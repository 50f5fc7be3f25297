"""Cumulative/sequencing operators (SURVEY §2.2 T3-T5).

The reference computes running chain totals and global box/tx indexes by
folding block-after-block on a single thread (BlockBuilder.scala:8-66,
FullBlockBuilder.scala:116-144). Spark-first, these are window functions —
but a naive `Window.orderBy(...)` with no partition key collapses the
whole dataset into ONE task, which is exactly what dies at 100 TB.

`ordered_prefix` is the scale-correct building block: range-partition on
the order key (contiguous ranges), compute row numbers / prefix sums /
lags within each partition, then correct partition boundaries with a tiny
driver-side prefix scan over per-partition aggregates (one row per
partition crosses the wire). Everything else stays fully parallel.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from .util import local_frame

_PID = "__op_pid"


def ordered_prefix(
    df: DataFrame,
    order_cols: list[str],
    sum_cols: dict[str, str] | None = None,
    lag_cols: dict[str, str] | None = None,
    row_col: str | None = None,
    num_partitions: int | None = None,
    strict_max_cols: dict[str, str] | None = None,
) -> DataFrame:
    """Distributed prefix computations over a total order.

    order_cols : total order (include a unique tiebreak).
    sum_cols   : {out_name: source_col} running (inclusive) sums — long.
    lag_cols   : {out_name: source_col} previous row's value (null for
                 the globally first row).
    row_col    : optional 1-based global row number.
    strict_max_cols : {out_name: source_col} max over STRICTLY preceding
                 rows (null for the globally first row) — the exclusive
                 prefix max a skyline/dominance scan needs.

    One extra narrow shuffle (repartitionByRange) + one tiny collect of
    per-partition aggregates; no single-task stage at any point.

    The range-partitioned input is read twice (the stats collect, then
    the returned plan), so it is pinned with a lazy ``localCheckpoint``
    that the stats collect fills. A ``persist()`` would leak: the
    returned frame is lazy and still reads the pin, so nothing can
    unpersist it. Its CacheManager entry would live for the session,
    put the whole upstream lineage into every plan over the result (the
    served `blocks` table), and be matched by plan — re-ingesting a
    longer rewrite of the same dump path in one session would hit the
    old entry and return the old, shorter block table. Checkpoint
    blocks belong to this frame alone and are reclaimed by the
    ContextCleaner once it is garbage collected (see
    `util.materialize_and_release`).
    """
    sum_cols = sum_cols or {}
    lag_cols = lag_cols or {}
    strict_max_cols = strict_max_cols or {}
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    ranged = (
        df.repartitionByRange(n, *order_cols)
        .withColumn(_PID, F.spark_partition_id())
        .localCheckpoint(eager=False)
    )

    aggs = [F.count(F.lit(1)).alias("__cnt")]
    for out, src in sum_cols.items():
        aggs.append(F.sum(F.col(src).cast("long")).alias(f"__sum_{out}"))
    for out, src in lag_cols.items():
        aggs.append(
            F.max_by(F.col(src).cast("long"), F.struct(*order_cols)).alias(
                f"__last_{out}"
            )
        )
    for out, src in strict_max_cols.items():
        aggs.append(F.max(F.col(src).cast("long")).alias(f"__pmax_{out}"))
    part_stats = sorted(
        ranged.groupBy(_PID).agg(*aggs).collect(), key=lambda r: r[_PID]
    )

    rows, acc_cnt = [], 0
    # None until the first non-null contribution: the running sum must be
    # NULL exactly while the global prefix has no non-null values (window
    # sum semantics) — an "or 0" accumulator can't represent that
    acc_sum: dict[str, int | None] = {o: None for o in sum_cols}
    prev_last: dict[str, int | None] = {o: None for o in lag_cols}
    prev_max: dict[str, int | None] = {o: None for o in strict_max_cols}
    for r in part_stats:
        rows.append(
            (
                r[_PID],
                acc_cnt,
                *[acc_sum[o] for o in sum_cols],
                *[prev_last[o] for o in lag_cols],
                *[prev_max[o] for o in strict_max_cols],
            )
        )
        acc_cnt += r["__cnt"]
        for o in sum_cols:
            ps = r[f"__sum_{o}"]
            if ps is not None:
                acc_sum[o] = (acc_sum[o] or 0) + ps
        for o in lag_cols:
            if r["__cnt"]:
                prev_last[o] = r[f"__last_{o}"]
        for o in strict_max_cols:
            pm = r[f"__pmax_{o}"]
            if pm is not None and (prev_max[o] is None or pm > prev_max[o]):
                prev_max[o] = pm
    fields = [
        StructField(_PID, IntegerType()),
        StructField("__off_cnt", LongType()),
    ]
    fields += [StructField(f"__off_{o}", LongType()) for o in sum_cols]
    fields += [StructField(f"__prev_{o}", LongType()) for o in lag_cols]
    fields += [StructField(f"__pmax_{o}", LongType()) for o in strict_max_cols]
    off_df = local_frame(spark, rows, StructType(fields))

    w = Window.partitionBy(_PID).orderBy(*order_cols)
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    wexcl = w.rowsBetween(Window.unboundedPreceding, -1)
    new: dict[str, Column] = {}
    if row_col:
        new[row_col] = (F.row_number().over(w) + F.col("__off_cnt")).cast(
            "long"
        )
    for o, src in sum_cols.items():
        # null-aware boundary add: plain `local + offset` nulls the whole
        # sum whenever the partition-local prefix is all-NULL; window-sum
        # semantics want NULL only while the GLOBAL prefix has no
        # non-null value (adversarial null property test)
        local = F.sum(F.col(src).cast("long")).over(wcum)
        off = F.col(f"__off_{o}")
        new[o] = F.when(local.isNull() & off.isNull(), F.lit(None)).otherwise(
            F.coalesce(local, F.lit(0)) + F.coalesce(off, F.lit(0))
        )
    for o, src in lag_cols.items():
        # NOT coalesce(lag, boundary): lag() is also NULL when the
        # in-partition previous row's VALUE is null, and that null must
        # survive — only the partition's true first row takes the
        # boundary carry (found by the adversarial null property test)
        new[o] = F.when(
            F.row_number().over(w) == 1, F.col(f"__prev_{o}")
        ).otherwise(F.lag(F.col(src).cast("long")).over(w))
    for o, src in strict_max_cols.items():
        local = F.max(F.col(src).cast("long")).over(wexcl)
        new[o] = F.greatest(local, F.col(f"__pmax_{o}"))
    # one select, so the plan carries one Window operator, not one per
    # column; an output named like an input column replaces it in
    # place and the rest are appended, the order withColumn leaves
    out = ranged.join(F.broadcast(off_df), _PID)
    kept = [c for c in out.columns if c not in off_df.columns]
    cols = [new.pop(c).alias(c) if c in new else F.col(c) for c in kept]
    return out.select(*cols, *[col.alias(c) for c, col in new.items()])


def global_sequence(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "gix",
    num_partitions: int | None = None,
) -> DataFrame:
    """Scalable global row_number() (FullBlockBuilder.scala:116-144:
    gix = previous block's maxBoxGix + rank within block, generalized)."""
    return ordered_prefix(
        df, order_cols, row_col=out_col, num_partitions=num_partitions
    )


def running_totals(
    df: DataFrame,
    partition_cols: list[str],
    order_cols: list[str | Column],
    sums: dict[str, Column],
) -> DataFrame:
    """Partitioned running totals (BlockBuilder.scala:49-63 semantics,
    distributed by partition key — use `ordered_prefix` when there is no
    natural partition key)."""
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    for out, col in sums.items():
        df = df.withColumn(out, F.sum(col).over(w))
    return df


def ewma_int(
    df: DataFrame,
    group_col: str,
    order_cols: list[str],
    value_col: str,
    a_num: int = 1,
    a_den: int = 4,
) -> DataFrame:
    """Exact-integer exponentially weighted moving average per group →
    (group, n, ewma): s₀ = v₀, sᵢ = (a_num·vᵢ + (a_den−a_num)·sᵢ₋₁)
    div a_den, folded over the group's rows in (order_cols) order.

    EWMA is a LINEAR RECURRENCE — no window frame expresses it, and a
    per-row Python loop doesn't distribute. Spark-first shape: one
    hash-agg collects each group's (order, value) rows into an array,
    `array_sort` orders it, and a single JVM-side `aggregate` fold runs
    the recurrence — no shuffle beyond the one groupBy, no Python in
    the loop. State is one int64. Group size is the only constraint
    (rows per entity, bounded for real keys — same posture as
    grouped.per_group_linear_trend); values must be ≥ 0 so `div`
    truncation ≡ floor division and the result is engine-identical
    (the DuckDB oracle runs the recurrence as a recursive CTE).
    """
    assert 0 < a_num < a_den, "alpha must be a proper fraction"
    pt = F.struct(
        *[F.col(c).alias(f"o{i}") for i, c in enumerate(order_cols)],
        F.col(value_col).cast("long").alias("v"),
    )
    rows = df.groupBy(group_col).agg(
        F.array_sort(F.collect_list(pt)).alias("__vs"),
        F.count(F.lit(1)).alias("n"),
    )
    fold = F.expr(
        f"aggregate(slice(__vs, 2, size(__vs) - 1), __vs[0].v, "
        f"(acc, x) -> ({a_num} * x.v + {a_den - a_num} * acc) div {a_den})"
    )
    return rows.select(group_col, "n", fold.alias("ewma"))


def transition_counts(
    df: DataFrame,
    entity_col: str,
    order_cols: list[str],
    state_col: str,
) -> DataFrame:
    """First-order transition matrix over each entity's ordered event
    sequence → (state_from, state_to, n): the Markov-chain summary of
    behavioral logs (funnel generalization — every adjacent pair, not
    one fixed path). `lead` over (entity, order) pairs each event with
    its successor; the terminal event of each entity has no successor
    and drops out. One window shuffle on the entity key + one hash-agg
    (map-side combined, ≤ |states|² rows out)."""
    w = Window.partitionBy(entity_col).orderBy(
        *[F.asc(c) for c in order_cols]
    )
    nxt = F.lead(F.col(state_col)).over(w)
    return (
        df.select(F.col(state_col).alias("state_from"), nxt.alias("state_to"))
        .filter(F.col("state_to").isNotNull())
        .groupBy("state_from", "state_to")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def ewma_states(
    df: DataFrame,
    group_col: str,
    order_cols: list[str],
    value_col: str,
    a_num: int = 1,
    a_den: int = 4,
) -> DataFrame:
    """Per-ROW exact-integer EWMA states → one output row per input row
    with the running smoothed value `s` and the residual `resid = v−s`
    (the anomaly-score primitive: spikes are rows whose value deviates
    far from their own entity's running level).

    Same recurrence and distribution shape as `ewma_int`, but the JVM
    `aggregate` fold accumulates the whole state ARRAY (group-size
    bounded — identical constraint to the collect itself), which then
    zips back against the sorted input rows and explodes. Still zero
    Python in the loop and one shuffle total."""
    assert 0 < a_num < a_den, "alpha must be a proper fraction"
    pt = F.struct(
        *[F.col(c).alias(f"o{i}") for i, c in enumerate(order_cols)],
        F.col(value_col).cast("long").alias("v"),
    )
    rows = df.groupBy(group_col).agg(
        F.array_sort(F.collect_list(pt)).alias("__vs")
    )
    states = F.expr(
        f"aggregate(slice(__vs, 2, size(__vs) - 1), "
        f"array(CAST(__vs[0].v AS BIGINT)), "
        f"(acc, x) -> concat(acc, array(({a_num} * x.v + "
        f"{a_den - a_num} * element_at(acc, -1)) div {a_den})))"
    )
    z = rows.withColumn("__ss", states).select(
        group_col, F.explode(F.arrays_zip("__vs", "__ss")).alias("__z")
    )
    return z.select(
        group_col,
        *[
            F.col(f"__z.__vs.o{i}").alias(c)
            for i, c in enumerate(order_cols)
        ],
        F.col("__z.__vs.v").alias(value_col),
        F.col("__z.__ss").alias("s"),
        (F.col("__z.__vs.v") - F.col("__z.__ss")).alias("resid"),
    )


def time_weighted_stats(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Exact time-weighted average, per entity, as an integer fraction →
    (entity, n_obs, span, twa_num): the value holds (LOCF) from each
    observation until the next, so the time-weighted mean over the
    entity's observed span is Σ vᵢ·(tᵢ₊₁−tᵢ) / (t_n−t₁). Sensor /
    balance / gauge rollups weight by HOW LONG a value held, not how
    often it was sampled — the arithmetic mean is simply wrong there.

    Exactness: vᵢ (int cents) × Δt (int ns) overflows int64 at real
    spans, so each segment product and the numerator sum are
    DECIMAL(38,0); the caller divides twa_num by span (or keeps the
    exact fraction). One window (partition entity, order ts+tiebreak)
    for `lead`, one hash-agg — both shuffle once on the entity key."""
    seg = df.select(
        entity_col,
        F.col(ts_col).cast("long").alias("__t"),
        F.col(value_col).cast("long").alias("__v"),
        F.col(tiebreak_col).alias("__tb"),
    ).withColumn(
        "__tnext",
        F.lead("__t").over(
            Window.partitionBy(entity_col).orderBy("__t", "__tb")
        ),
    )
    return seg.groupBy(entity_col).agg(
        F.count(F.lit(1)).alias("n_obs"),
        (F.max("__t") - F.min("__t")).alias("span"),
        F.sum(
            F.when(
                F.col("__tnext").isNotNull(),
                F.col("__v").cast("decimal(38,0)")
                * (F.col("__tnext") - F.col("__t")).cast("decimal(38,0)"),
            )
        ).cast("decimal(38,0)").alias("twa_num"),
    )


def coarse_partition_rank(
    df: DataFrame,
    part_col: str,
    order_cols: list[str],
    rank_col: str = "rk",
    num_partitions: int | None = None,
) -> DataFrame:
    """row_number() within FEW, HUGE partitions (e.g. 2 periods, 5
    sources) without the single-task window a plain
    `Window.partitionBy(few-valued key)` degenerates into at scale:
    compute the GLOBAL row number over (part, *order) with
    `ordered_prefix` (range-partitioned, fully parallel), then subtract
    each partition's global offset — the count of rows in partitions
    that sort earlier, a |parts|-row broadcast dim.

    Correct because part_col leads the global order, so each
    partition's rows are contiguous in it. The tiny unpartitioned
    window below runs over ONE ROW PER PARTITION VALUE, never data."""
    g = ordered_prefix(
        df,
        [part_col, *order_cols],
        row_col="__gix",
        num_partitions=num_partitions,
    )
    counts = g.groupBy(part_col).agg(F.count(F.lit(1)).alias("__n"))
    w = Window.orderBy(part_col).rowsBetween(Window.unboundedPreceding, -1)
    offs = counts.withColumn(
        "__off", F.coalesce(F.sum("__n").over(w), F.lit(0))
    ).select(part_col, "__off")
    return (
        g.join(F.broadcast(offs), part_col)
        .withColumn(rank_col, (F.col("__gix") - F.col("__off")).cast("long"))
        .drop("__gix", "__off")
    )
