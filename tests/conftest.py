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


@pytest.fixture
def kernel_calls(monkeypatch):
    """`kernel_calls(name)` wraps the one-task kernel `graph.<name>` for
    the test's duration and returns a list that gets one entry per call,
    so a test can assert that the gate admitted its input."""
    from ergo_uexplorer_spark.operators import graph as G

    def record(name: str) -> list:
        calls: list = []
        kernel = getattr(G, name)

        def wrapped(*args, **kwargs):
            calls.append(name)
            return kernel(*args, **kwargs)

        monkeypatch.setattr(G, name, wrapped)
        return calls

    return record
