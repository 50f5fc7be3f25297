from __future__ import annotations

import contextlib

import pytest

from ergo_uexplorer_spark.operators.sizing import LOCAL_TIER_MAX_BYTES_CONF
from ergo_uexplorer_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("uexplorer-tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def one_task_off(spark):
    """A context manager that turns every one-task tier off (a one-task
    budget of 0 bytes) inside its block, so an operator takes its
    distributed path."""

    @contextlib.contextmanager
    def off():
        spark.conf.set(LOCAL_TIER_MAX_BYTES_CONF, "0")
        try:
            yield
        finally:
            spark.conf.unset(LOCAL_TIER_MAX_BYTES_CONF)

    return off
