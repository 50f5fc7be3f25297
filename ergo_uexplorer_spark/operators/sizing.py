"""Frame sizing and tier choice: the one place an operator measures a
frame or decides between a broadcast join, a one-task kernel and the
distributed plan.

Measurements (driver-side, no Spark job):

  * `checkpoint_bytes` — block-manager bytes of a `localCheckpoint`;
  * `cache_bytes` — the CacheManager's measured size of a persisted,
    computed frame;
  * `plan_bytes` — Catalyst's optimized-plan size estimate;
  * `free_storage_bytes` — storage memory free across executors;
  * `input_bytes` — the size of the files a frame scans.

The first four go through private JVM APIs (`_jdf`/`_jsc`); a Spark
upgrade can break any of them, and a broken probe returns None or 0
without an error, which turns every tier it gates off. A Tier-1 test
asserts that each returns a positive number on the installed PySpark.

One rule decides every tier: a broadcast hint or a one-task tier is
admitted only on MATERIALIZED bytes (`materialized_bytes`). A plan
estimate may only refuse. It is a guess: on PySpark 4.1.2 an eager
`localCheckpoint` reports its SOURCE's plan estimate — 320,000 B for a
20k-row two-long frame, and 319,999 B for a 1,000-row aggregate of it
— while the block manager holds 1,680,032 B and 84,016 B for the two
(84 B per deserialized two-long row). A plan estimate can therefore be
5× under or 4× over the bytes a broadcast or a one-task kernel would
really hold."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Byte budget of every one-task tier (the only conf here besides Spark's
# own broadcast threshold). 0 turns every one-task tier off.
LOCAL_TIER_MAX_BYTES_CONF = "spark.graft.localTier.maxBytes"
LOCAL_TIER_MAX_BYTES = 64 << 20

# Σ deg² wedge budgets of the wedge-gated one-task tiers: a small edge
# table can still carry a quadratic wedge load. The triangle budget is
# about the distributed wedge join's row count on z42. The pair budget
# (`graph.common_neighbor_links`, `graph.cooccurrence_pairs`) was set
# by interleaved same-session A/B on the registry entries: at 3.0M
# wedges the one-task kernel won ~2× (zya6 1.6 s vs 3.0+ s), at 18.6M
# it lost ~1.4× (zya8 5.9-6.9 s vs 4.0-4.9 s), although a sweep over a
# pre-pinned edge frame had it winning up to 18.6M (SCALE.md: pinned-
# frame sweeps over-credit the kernel). Σd² ≥ edge rows, so a pair
# graph the budget admits has ≤ 4M edge rows.
TRIANGLE_WEDGE_BUDGET = 32_000_000
PAIRS_WEDGE_BUDGET = 4_000_000

# Block-manager bytes of one deserialized two-long row (a candidate
# pair or an edge), measured on PySpark 4.1.2: 1,680,032 B for 20k rows
# and 50,400,032 B for 600k rows.
PAIR_ROW_BYTES = 84

# A corpus pin's deserialized rows run ~3× the compressed parquet they
# came from; without a free-memory reading only a pin this small keeps
# the deserialized level.
PIN_INFLATION = 3
PIN_DESER_MAX_BYTES = 256 << 20


def parse_bytes(raw: str, default: int) -> int:
    """A Spark size string ("64m", "10485760", "-1") in bytes; a
    negative size is 0 (disabled), an unparsable one `default`."""
    raw = str(raw).strip().lower()
    units = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    num, mult = raw, 1
    for suffix in ("kb", "mb", "gb", "tb", "b", "k", "m", "g", "t"):
        if raw.endswith(suffix):
            num, mult = raw[: -len(suffix)], units[suffix[0]]
            break
    try:
        return max(0, int(num) * mult)
    except ValueError:
        return default


def broadcast_max_bytes(spark: SparkSession) -> int:
    """spark.sql.autoBroadcastJoinThreshold in bytes (-1 → 0: off)."""
    return parse_bytes(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760"),
        10 << 20,
    )


def one_task_max_bytes(spark: SparkSession) -> int:
    """Largest materialized input a one-task kernel ingests. Separate
    from the broadcast threshold: that one models SHIPPING a build side
    to every executor, this one a single task scanning the graph once,
    a different cost with a higher knee. Measured on local[32] at sf0.1
    (interleaved A/B, best-of-3): the 599k-edge k-core peel ran 4.6 s
    in one task vs 8.3 s distributed, the 2.7M-edge 4-hop BFS 3.1 s vs
    6.4 s; the distributed loops pay per-round stages for near-empty
    tasks. Ids reach the kernels as exact Arrow columns encoded to int64
    codes, so a 64 MiB input peaks well under a few hundred MB; a
    100 TB-derived graph is GBs and refuses. Lower it for tight
    executors; 0 turns every one-task tier off."""
    return parse_bytes(
        spark.conf.get(LOCAL_TIER_MAX_BYTES_CONF, str(LOCAL_TIER_MAX_BYTES)),
        LOCAL_TIER_MAX_BYTES,
    )


def plan_bytes(df: DataFrame) -> int | None:
    """Catalyst's optimized-plan size estimate: reflects pushed filters
    and projection width, and for a loaded cache it is the cache's
    measured size. None when the plan has no estimate (a frame over a
    Python RDD reports Long.MaxValue) or the internal API drifts."""
    try:
        raw = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        size = raw if isinstance(raw, int) else int(str(raw))
        return size if 0 <= size < (1 << 62) else None
    except Exception:  # noqa: BLE001 — py4j/internal API drift
        return None


def checkpoint_bytes(df: DataFrame) -> int | None:
    """Block-manager bytes (memory + disk) of a `localCheckpoint`-backed
    frame — its rows as really held, deserialized, so several × the
    columnar size. None when `df` is not itself a checkpoint (its
    analyzed plan is not a LogicalRDD with cached blocks) or the
    internal API drifts."""
    try:
        lp = df._jdf.queryExecution().analyzed()
        if not lp.getClass().getName().endswith("LogicalRDD"):
            return None
        rid = lp.rdd().id()
        for info in df.sparkSession.sparkContext._jsc.sc().getRDDStorageInfo():
            if info.id() == rid:
                size = int(info.memSize()) + int(info.diskSize())
                return size if size > 0 else None
    except Exception:  # noqa: BLE001 — py4j/internal API drift
        return None
    return None


def free_storage_bytes(spark: SparkSession) -> int:
    """Storage memory free across executors (the driver included in
    local mode); 0 when the probe fails."""
    try:
        status = spark.sparkContext._jsc.sc().getExecutorMemoryStatus()
        it = status.iterator()
        total = 0
        while it.hasNext():
            total += it.next()._2()._2()
        return total
    except Exception:  # noqa: BLE001 — py4j/internal API drift
        return 0


def input_bytes(df: DataFrame) -> int:
    """Size of the local files feeding `df`; 0 when unknown (in-memory
    frames, non-local URIs)."""
    total = 0
    try:
        for f in df.inputFiles():
            p = f[7:] if f.startswith("file:") and f[5:7] == "//" else f
            p = p[5:] if p.startswith("file:") else p
            try:
                total += os.path.getsize(p)
            except OSError:
                pass
    except Exception:  # noqa: BLE001 — inputFiles on an exotic plan
        return 0
    return total


def cache_bytes(df: DataFrame) -> int | None:
    """Measured size of `df`'s entry in the session CacheManager once its
    columnar buffers are built (persisted and computed). None when `df`
    is not cached, not yet computed, or the internal API drifts.

    The lookup matches `df`'s plan against the cache, so it does not
    depend on call order: reading the frame's own optimized plan would
    miss a cache added after that plan was first computed (Spark keeps
    the first one), e.g. a plan-size probe before `persist()`."""
    try:
        cm = df.sparkSession._jsparkSession.sharedState().cacheManager()
        found = cm.lookupCachedData(df._jdf)
        if found.isEmpty():
            return None
        builder = found.get().cachedRepresentation().cacheBuilder()
        if not builder.isCachedColumnBuffersLoaded():
            return None
        size = int(builder.sizeInBytesStats().value())
        return size if size > 0 else None
    except Exception:  # noqa: BLE001 — py4j/internal API drift
        return None


def materialized_bytes(df: DataFrame) -> int | None:
    """Bytes `df` really holds: a checkpoint's block-manager bytes, or a
    persisted and already-computed frame's measured cache size. None for
    anything else — a plan estimate is not a materialized size."""
    if df.isStreaming:
        return None
    size = checkpoint_bytes(df)
    return size if size is not None else cache_bytes(df)


def is_checkpoint_backed(df: DataFrame) -> bool:
    """True when `df` IS a materialized localCheckpoint, so pinning it
    again would only copy bounded blocks in one more job."""
    return checkpoint_bytes(df) is not None


def broadcast_ok(df: DataFrame, max_bytes: int | None = None) -> bool:
    """Admit a broadcast hint on `df`: its materialized bytes are known
    and within `max_bytes` (default the session broadcast threshold)."""
    size = materialized_bytes(df)
    if max_bytes is None:
        max_bytes = broadcast_max_bytes(df.sparkSession)
    return size is not None and 0 < size <= max_bytes


def one_task_ok(df: DataFrame) -> bool:
    """Admit a one-task tier over `df`: its materialized bytes are known
    and within the one-task budget. Callers materialize `df` first
    (persist + count, or a checkpoint)."""
    size = materialized_bytes(df)
    return size is not None and 0 < size <= one_task_max_bytes(df.sparkSession)


def one_task_refused(df: DataFrame) -> bool:
    """The free refusal before a caller pays to materialize `df` for
    `one_task_ok`: every one-task tier is off, or the plan estimate
    already exceeds the budget (at 100 TB, file statistics refuse here
    and nothing runs)."""
    limit = one_task_max_bytes(df.sparkSession)
    est = plan_bytes(df)
    return limit == 0 or (est is not None and est > limit)


def wedge_volume(df: DataFrame, key: str) -> int | None:
    """Σ over `key` groups of (group rows)²: the row count a self-join
    of `df` on `key` emits, in one aggregate job. None on empty input."""
    row = (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("d"))
        .agg(F.sum(F.col("d") * F.col("d")).alias("w"))
        .collect()
    )
    return row[0]["w"] if row else None


def fanout_partitions(
    spark: SparkSession, out_rows: int, row_bytes: int = 24
) -> int:
    """Shuffle-partition count for a join whose measured OUTPUT far
    exceeds its input bytes (wedge joins: Σdeg² rows out of an edge-dim
    input). AQE sizes post-shuffle partitions from INPUT bytes, so a
    small-input, large-fan-out join coalesces to ~1 task and the whole
    explosion runs serially: zya8's 18.6M-wedge join at sf0.1 took 3.3 s
    coalesced vs 1.7 s at 32 wedge partitions. An explicit repartition
    with a set count is exempt from coalescing. Sized from the fan-out
    against AQE's advisory partition size, floored at cluster
    parallelism: 10B wedges give ~3,700 partitions."""
    advisory = parse_bytes(
        spark.conf.get(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "67108864"
        ),
        64 << 20,
    )
    need = int(out_rows) * row_bytes // max(1, advisory) + 1
    return max(spark.sparkContext.defaultParallelism, need)


def pin_serialized(df: DataFrame) -> bool:
    """Storage level of a corpus-sized pin (`util.pin_corpus_dim`):
    serialized when the projected pin (input files × `PIN_INFLATION`)
    crowds half the storage memory free now, since the disk tier is
    then needed anyway. When the free-memory probe fails, or the frame
    is not file-backed (size unknowable), fail toward serialized:
    the deserialized level is what ran a 12 GB session out of memory at
    100× scale. Only a provably small pin stays deserialized then."""
    est = input_bytes(df) * PIN_INFLATION
    free = free_storage_bytes(df.sparkSession)
    if free:
        return est > free // 2
    return est == 0 or est > PIN_DESER_MAX_BYTES
