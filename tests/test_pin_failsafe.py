"""pin_corpus_dim must fail toward the SAFE storage level.

The free-storage probe uses a private JVM API (`sizing.free_storage_bytes`);
any Spark upgrade can break it. When it returns 0, the old
logic picked the DESERIALIZED columnar level — exactly the level that
OOM'd a default 12 GB session at 100× scale in round 8. These tests
monkeypatch the probe and the size estimate to pin the decision table.
"""

import pytest

from ergo_uexplorer_spark.operators import sizing
from ergo_uexplorer_spark.operators import util as U


@pytest.fixture
def df(spark):
    return spark.range(10).toDF("id")


def _level(df):
    return df.storageLevel


def test_probe_failure_large_estimate_serializes(spark, df, monkeypatch):
    monkeypatch.setattr(sizing, "free_storage_bytes", lambda _s: 0)
    monkeypatch.setattr(sizing, "input_bytes", lambda _df: 2 * 1024**3)
    pinned = U.pin_corpus_dim(df)
    try:
        assert not _level(pinned).deserialized  # MEMORY_AND_DISK (ser)
    finally:
        pinned.unpersist(blocking=True)


def test_probe_failure_unknown_estimate_serializes(spark, df, monkeypatch):
    # est == 0 means the frame is not file-backed — size unknowable, so
    # no evidence the deserialized blowup fits: serialize.
    monkeypatch.setattr(sizing, "free_storage_bytes", lambda _s: 0)
    monkeypatch.setattr(sizing, "input_bytes", lambda _df: 0)
    pinned = U.pin_corpus_dim(df)
    try:
        assert not _level(pinned).deserialized
    finally:
        pinned.unpersist(blocking=True)


def test_probe_failure_small_estimate_stays_fast(spark, df, monkeypatch):
    # a provably tiny pin (<256 MB source files) keeps the fast
    # deserialized default even without memory evidence
    monkeypatch.setattr(sizing, "free_storage_bytes", lambda _s: 0)
    monkeypatch.setattr(sizing, "input_bytes", lambda _df: 1024**2)
    pinned = U.pin_corpus_dim(df)
    try:
        assert _level(pinned).deserialized
    finally:
        pinned.unpersist(blocking=True)


def test_probe_ok_crowded_serializes(spark, df, monkeypatch):
    monkeypatch.setattr(sizing, "free_storage_bytes", lambda _s: 1024**3)
    monkeypatch.setattr(sizing, "input_bytes", lambda _df: 1024**3)
    pinned = U.pin_corpus_dim(df)
    try:
        assert not _level(pinned).deserialized
    finally:
        pinned.unpersist(blocking=True)

