"""Stats endpoints (SURVEY §2.4 Q14-Q16, StatsService.scala:12-35).

The reference iterates only supernode (hot) maps — an approximation exact
only above the hot threshold. Spark computes the exact answer over the
whole live set: groupBy with map-side partial aggregation; AQE splits the
skewed (exchange) keys. A `hot_keys` helper mirrors the reference's
hot-key report (MvStorage.scala:107-121) for fast-path reuse."""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .util import local_frame

NANO = 1_000_000_000
HOT_KEY_THRESHOLD = 500  # SuperNodeCounter.scala:19


def top_addresses_by_utxo_count(
    address_stats: DataFrame, min_count: int = 1, k: int = 500
) -> DataFrame:
    return (
        address_stats.filter(F.col("utxo_count") >= min_count)
        .orderBy(F.desc("utxo_count"), F.asc("address"))
        .limit(k)
        .select("address", "utxo_count")
    )


def top_addresses_by_value(
    address_stats: DataFrame, min_erg: int = 1, k: int = 500
) -> DataFrame:
    return (
        address_stats.filter(F.col("total_value") >= min_erg * NANO)
        .orderBy(F.desc("total_value"), F.asc("address"))
        .limit(k)
        .select("address", "total_value")
    )


def salted_count_by_key(
    df: DataFrame, key_cols: list[str], salt_buckets: int = 16
) -> DataFrame:
    """Two-phase skew-proof counting: count by (salt, key) first, then
    merge partials by key. AQE usually makes this unnecessary (it splits
    skewed shuffle partitions at runtime), but when one key holds a
    double-digit percentage of ALL rows (the exchange supernode), salting
    guarantees the first shuffle is uniform regardless of planner state.
    Same result as a plain groupBy-count."""
    salted = df.withColumn(
        "__salt", (F.rand(seed=7) * salt_buckets).cast("int")
    )
    partial = salted.groupBy("__salt", *key_cols).agg(
        F.count(F.lit(1)).alias("__partial")
    )
    return partial.groupBy(*key_cols).agg(
        F.sum("__partial").alias("count")
    )


def top_tokens_by_box_count(
    assets: DataFrame, k: int = 100
) -> DataFrame:
    """Token analog of Q14: which tokens sit in the most boxes (the hot
    token is the planted skew key)."""
    return (
        assets.groupBy("token_id")
        .agg(
            F.count_distinct("box_id").alias("n_boxes"),
            F.sum("amount").alias("total_amount"),
        )
        .orderBy(F.desc("n_boxes"), F.asc("token_id"))
        .limit(k)
    )


CMS_DEPTH = 4
CMS_WIDTH = 256


def _row_keyed_bucket(df: DataFrame, key, n_rows: int, salt: str, modulus: int):
    """Shared fan-out for the hash-sketch family: explode `n_rows` hash
    rows per input row and compute each row's bucket as the portable
    60-bit md5 hash (bit-identical in DuckDB) of `"{salt}{row}-" + key`,
    mod `modulus`. Returns (row, k, bucket)."""
    from .textops import portable_hash

    fanout = df.select(
        F.explode(F.array(*[F.lit(i) for i in range(n_rows)])).alias("row"),
        key.alias("k"),
    )
    bucket = F.when(F.lit(False), F.lit(0))
    for i in range(n_rows):
        b_i = portable_hash(
            F.concat(F.lit(f"{salt}{i}-"), F.col("k").cast("string"))
        ) % modulus
        bucket = F.when(F.col("row") == i, b_i).otherwise(bucket)
    return fanout.select("row", "k", bucket.alias("bucket"))


def count_min_sketch(
    df: DataFrame, key_col: str, depth: int = CMS_DEPTH, width: int = CMS_WIDTH
) -> DataFrame:
    """Count-Min sketch build (Cormode & Muthukrishnan): each input row
    increments one bucket per hash row → (row, bucket, c). The sketch is
    depth×width counters regardless of stream size — THE mergeable,
    fixed-memory frequency summary for 100-TB streams (per-partition
    sketches union by adding counters; this DataFrame form gets that
    merge for free from partial aggregation).

    Deterministic md5-derived hash rows shared with the SQL oracle make
    even the approximation error identical across engines, so estimates
    are hash-exact, not just statistically close."""
    return (
        _row_keyed_bucket(df, F.col(key_col), depth, "cms", width)
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Point-frequency estimates: est(k) = min over hash rows of the
    key's bucket counter (never an under-count; over-counts only on
    collisions). `depth`/`width` must match the sketch's build
    parameters. The query side is |keys|×depth rows joined against the
    fixed-size sketch — broadcast the sketch at scale."""
    probes = keys.select(F.col(key_col).alias("k")).distinct()
    return (
        _row_keyed_bucket(probes, F.col("k"), depth, "cms", width)
        .join(F.broadcast(sketch), ["row", "bucket"], "left")
        .groupBy("k")
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("est"))
        .select(F.col("k").alias(key_col), "est")
    )


BLOOM_BITS = 4096
BLOOM_HASHES = 4


def bloom_build(df: DataFrame, key_col: str) -> DataFrame:
    """Bloom filter build → the DataFrame of SET BIT positions (one row
    per distinct bit). Fixed size (≤ BLOOM_BITS rows) regardless of
    input, mergeable by union — the pre-filter shape for "is this box
    spent?"-style membership at scale, where the bit set broadcasts and
    the big side never shuffles. Keys are deduplicated BEFORE the hash
    fan-out (duplicates set the same bits, so hashing them is pure
    waste on fact-table-sized inputs). md5-derived bit positions are
    shared with the SQL oracle, so even false positives are
    engine-identical."""
    keys = df.select(F.col(key_col).alias("k")).distinct()
    return (
        _row_keyed_bucket(keys, F.col("k"), BLOOM_HASHES, "bf", BLOOM_BITS)
        .select(F.col("bucket").alias("bit"))
        .distinct()
    )


def bloom_probe(bits: DataFrame, keys: DataFrame, key_col: str) -> DataFrame:
    """Membership probe: a key is (possibly) present iff ALL its hash
    bits are set — no false negatives, false positives at the classic
    (1 − e^{−kn/m})^k rate. The bit table broadcasts; probes never
    shuffle the bit side."""
    probes = keys.select(F.col(key_col).alias("k")).distinct()
    hits = (
        _row_keyed_bucket(probes, F.col("k"), BLOOM_HASHES, "bf", BLOOM_BITS)
        .select("k", F.col("bucket").alias("bit"))
        .join(F.broadcast(bits), "bit", "left_semi")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_set"))
    )
    return (
        probes.join(hits, "k", "left")
        .select(
            F.col("k").alias(key_col),
            (F.coalesce(F.col("n_set"), F.lit(0)) == BLOOM_HASHES).alias(
                "in_bloom"
            ),
        )
    )


def hot_keys(address_stats: DataFrame) -> DataFrame:
    """Keys above the supernode threshold — the skew report the reference
    persists as hot-keys-*.csv.gz; useful as a broadcast dimension for
    salting decisions."""
    return address_stats.filter(
        F.col("utxo_count") > HOT_KEY_THRESHOLD
    ).select("ergo_tree_hash", "address", "utxo_count")


def group_zscore_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_cols: tuple[str, ...],
    k_num: int = 2,
    k_den: int = 1,
) -> DataFrame:
    """Per-group z-score outlier flags WITHOUT float variance: a row is
    an outlier iff |x − μ_g| > (k_num/k_den)·σ_g, evaluated as the exact
    integer inequality

        (n·x − S)² · k_den²  >  k_num² · (n·Q − S²)

    with S = Σx, Q = Σx² per group — algebraically identical (multiply
    through by n²·k_den²) and computable in DECIMAL(38,0)/int128 on any
    engine, so the flag is bit-identical where a float σ comparison
    would drift on reduction order. This is the numeric-column analog of
    the text quality filters (drop length/score outliers per source).

    Scale shape: one map-side-combinable agg to (group, n, S, Q) —
    group-dim-sized — broadcast back into a narrow filter projection;
    the data is never sorted or windowed. Decimal budget: values up to
    ~10^5 with group counts up to ~10^10 keep every product under 38
    digits.
    """
    d = "decimal(38,0)"
    x = F.col(value_col).cast(d)
    stats = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast(d).alias("__n"),
        F.sum(x).cast(d).alias("__s"),
        F.sum(x * x).cast(d).alias("__q"),
    )
    dev = (F.col("__n") * x - F.col("__s"))
    lhs = dev * dev * F.lit(k_den * k_den).cast(d)
    rhs = (
        F.lit(k_num * k_num).cast(d)
        * (F.col("__n") * F.col("__q") - F.col("__s") * F.col("__s"))
    )
    return (
        df.join(F.broadcast(stats), group_col)
        .select(
            *id_cols,
            group_col,
            F.col(value_col),
            (lhs > rhs).alias("is_outlier"),
        )
    )


def spearman_by_group(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    tiebreak_col: str,
    min_n: int = 2,
) -> DataFrame:
    """Exact per-group Spearman rank correlation in integer ppm.

    Ranks are `row_number` over (value, tiebreak) — deterministic tie
    resolution by the unique tiebreak key instead of average ranks, so
    the statistic is integer-exact and engine-identical (average ranks
    introduce .5 fractions; with a shared total order both engines
    assign identical ranks). With d_i = rank_x(i) − rank_y(i):

        rho_ppm = 1_000_000 − (6_000_000 · Σ d_i²) div (n·(n²−1))

    The numerator passes int64 around n ≈ 10⁶ rows per group, so the
    division runs in 128-bit (Spark DECIMAL(38,0) / oracle HUGEINT) and
    only the small quotient is surfaced as BIGINT.

    Output: (group, n, sum_d2, rho_ppm) for groups with ≥ min_n rows.

    Scale shape: two window passes partitioned by the group key (state
    = one group per partition, spilled sort if huge) + one group agg.
    Skewed groups are a sort, not a collect; nothing is driver-side.
    """
    from pyspark.sql import Window

    wx = Window.partitionBy(group_col).orderBy(
        F.asc(x_col), F.asc(tiebreak_col)
    )
    wy = Window.partitionBy(group_col).orderBy(
        F.asc(y_col), F.asc(tiebreak_col)
    )
    ranked = df.select(
        F.col(group_col),
        F.row_number().over(wx).alias("rx"),
        F.row_number().over(wy).alias("ry"),
    )
    agg = ranked.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (F.col("rx") - F.col("ry")) * (F.col("rx") - F.col("ry"))
        ).alias("sum_d2"),
    )
    return agg.filter(F.col("n") >= min_n).withColumn(
        "rho_ppm",
        F.expr(
            "CAST(1000000 - (6000000 * CAST(sum_d2 AS DECIMAL(38,0)))"
            " div (CAST(n AS DECIMAL(38,0)) * n * n - n) AS BIGINT)"
        ),
    )


def benford_first_digit(
    df: DataFrame,
    group_col: str,
    amount_col: str,
) -> DataFrame:
    """First-significant-digit distribution per group → (group, digit,
    n, permille) — the Benford's-law data-quality probe (fabricated or
    clipped monetary columns drift from the log distribution; the
    profile is the screening artifact).

    The digit comes from the DECIMAL STRING of the integer amount —
    substring(cast(v as string), 1, 1) — never from pow/log10 floats,
    so it is exact and engine-identical for any positive int64. One
    hash-agg (map-side combined) + a tiny per-group window for the
    permille share; ≤ 9 rows per group out."""
    pos = df.filter(F.col(amount_col) > 0)
    counts = (
        pos.withColumn(
            "digit",
            F.substring(F.col(amount_col).cast("string"), 1, 1).cast("int"),
        )
        .groupBy(group_col, "digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return counts.withColumn(
        "permille",
        F.expr(f"1000 * n div sum(n) OVER (PARTITION BY {group_col})"),
    )


def pareto_frontier_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    id_cols: list[str] | None = None,
) -> DataFrame:
    """2-D skyline (Pareto frontier, maximize BOTH x and y): rows no
    other row dominates, where b dominates a iff x_b ≥ x_a ∧ y_b ≥ y_a
    with at least one strict. The multi-objective "best tradeoff" query
    (quality-vs-length doc selection, price-vs-size part search).

    Spark-first, never all-pairs: (1) one hash-agg computes max(y) per
    distinct x — only per-x maxima can be on the frontier; (2) the
    strict-prefix max of those maxima over x DESC (via `ordered_prefix`
    — range-partitioned, no single-task window) gives, for each x, the
    best y among all strictly-greater x; a per-x candidate survives iff
    its y beats that; (3) a semi-join pulls every original row matching
    a surviving (x, max-y) pair, so duplicate frontier points are kept.
    Cost: one shuffle on x + one narrow range shuffle over |distinct x|
    rows + one broadcast-able semi-join. Columns must be integer-typed
    (cents); ties and duplicates handled exactly."""
    from .cumulative import ordered_prefix

    xa = df.groupBy(x_col).agg(F.max(F.col(y_col).cast("long")).alias("__mx"))
    ranked = ordered_prefix(
        xa.withColumn("__negx", -F.col(x_col).cast("long")),
        ["__negx"],
        strict_max_cols={"__best_above": "__mx"},
    )
    keep = ranked.filter(
        F.col("__best_above").isNull() | (F.col("__mx") > F.col("__best_above"))
    ).select(x_col, F.col("__mx").alias(y_col))
    # frontier is typically tiny (a staircase) — AQE promotes this semi
    # join to broadcast at runtime; worst case (all-distinct correlated
    # x,y) it stays a safe shuffle join instead of a forced broadcast
    return df.join(keep, [x_col, y_col], "left_semi")


def misra_gries_heavy_hitters(
    df: DataFrame,
    key_col: str,
    k: int,
) -> DataFrame:
    """EXACT heavy hitters (keys with count·k > n) at bounded memory:
    a per-partition Misra-Gries summary (≤ k counters per partition —
    the mergeable-summary guarantee: every key with global frequency
    > n/k survives decrement-based eviction in at least one partition's
    summary) generates a SMALL candidate set; an exact recount over the
    candidates (semi-join + hash-agg) removes false positives. Output
    (key, n) for count·k > n strictly.

    This is the sketch-then-verify posture for 100 TB top-key reports:
    the first pass streams each partition once with O(k) state (Arrow-
    batched pandas, no shuffle), the second pass aggregates only rows
    whose key is in the ≤ k·num_partitions candidate set (broadcast
    semi-join, map-side combine). Never a full-key-space shuffle."""
    import pandas as pd

    spark = df.sparkSession
    keyed = df.select(F.col(key_col).cast("string").alias("k"))

    def summarize(batches):
        # batch-merge Misra-Gries (Agarwal et al., Mergeable Summaries):
        # add each Arrow batch's exact value_counts into the summary,
        # then shrink back to k counters by subtracting the (k+1)-th
        # largest count from all and dropping non-positives — the
        # decrement step, vectorized, preserving the > n_p/k guarantee.
        counters: dict[str, int] = {}
        for pdf in batches:
            for key, c in pdf["k"].value_counts().items():
                counters[key] = counters.get(key, 0) + int(c)
            if len(counters) > k:
                thresh = sorted(counters.values(), reverse=True)[k]
                counters = {
                    key: n - thresh
                    for key, n in counters.items()
                    if n > thresh
                }
        yield pd.DataFrame({"k": list(counters.keys())})

    cands = keyed.mapInPandas(summarize, "k string").distinct()
    # one scan for BOTH totals: n and the null-group count. The null
    # key needs its own exact lane — pandas value_counts drops NaN so
    # nulls never reach the candidate set, and `null = null` would not
    # survive the equi-semi-join anyway — while SQL GROUP BY (the
    # operator's definition and its oracle) keeps the null group.
    trow = keyed.agg(
        F.count(F.lit(1)).alias("t"),
        F.coalesce(
            F.sum(F.col("k").isNull().cast("long")), F.lit(0)
        ).alias("nn"),
    ).first()
    total, n_null = trow["t"], trow["nn"]
    counts = (
        keyed.join(F.broadcast(cands), "k", "left_semi")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") * F.lit(k) > F.lit(total))
    ).select(F.col("k").alias(key_col), "n")
    if n_null * k > total:
        null_row = local_frame(spark, [(None, n_null)], counts.schema)
        counts = counts.unionByName(null_row)
    return counts


def weighted_median_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    weight_col: str,
) -> DataFrame:
    """Exact (lower) weighted median per group → (group, total_weight,
    wmedian): the smallest value v whose cumulative weight w(≤v)
    satisfies 2·w(≤v) ≥ W. The duration/size-weighted "typical value"
    (median request weighted by bytes, median price weighted by
    quantity) — the unweighted median answers a different question.

    Scale shape: the raw rows are first reduced to a VALUE HISTOGRAM —
    one hash-agg to (group, value, Σweight) — so the per-group window
    that accumulates weight runs over distinct values, not rows (a
    price column has ~10⁵ distinct cents against 10⁹ rows; for
    unbounded value domains feed the histogram through
    `coarse_partition_rank` instead). All integer arithmetic — the
    ×2 comparison avoids halving."""
    h = df.groupBy(group_col, value_col).agg(
        F.sum(F.col(weight_col).cast("long")).alias("__w")
    )
    wcum = (
        Window.partitionBy(group_col)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = h.withColumn("__cw", F.sum("__w").over(wcum))
    tot = h.groupBy(group_col).agg(F.sum("__w").alias("total_weight"))
    return (
        cum.join(tot, group_col)
        .filter(F.col("__cw") * 2 >= F.col("total_weight"))
        .groupBy(group_col)
        .agg(
            F.max("total_weight").alias("total_weight"),
            F.min(value_col).alias("wmedian"),
        )
    )


def iqr_outlier_summary(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Tukey-fence outlier summary per group → (group, n, q1, q3,
    n_low, n_high): rank-based quartiles (q1 = smallest value with
    cum-count ≥ ⌈n/4⌉, q3 at ⌈3n/4⌉ — type-1/discrete, no
    interpolation, engine-identical on integers) and the counts
    outside the 1.5·IQR fences. Fences are kept DOUBLED
    (lo₂ = 2·q1 − 3·IQR, hi₂ = 2·q3 + 3·IQR, compared against 2·v)
    so 1.5× stays in exact integer arithmetic.

    One scan builds the (group, value, count) histogram; quartiles AND
    both tail counts come from the histogram alone — the raw rows are
    never re-scanned. Per-group window over distinct values, as in
    `weighted_median_by_group`.

    Rows with a NULL value are EXCLUDED from the histogram: quantiles
    are over observed values, `n` counts observed rows, and a group
    whose values are all NULL yields no output row. (Leaving NULLs in
    would also make the cum-count window null-ORDERING-sensitive —
    Spark's ASC is NULLS FIRST, DuckDB's is NULLS LAST, so the q3 of
    a group containing a NULL silently diverged between engine and
    oracle until the r12 dirty menu caught it.)"""
    h = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(group_col, value_col)
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    wcum = (
        Window.partitionBy(group_col)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = h.withColumn("__cc", F.sum("__c").over(wcum))
    tot = h.groupBy(group_col).agg(F.sum("__c").alias("n"))
    j = cum.join(tot, group_col)
    q = j.groupBy(group_col).agg(
        F.max("n").alias("n"),
        F.min(
            F.when(
                F.col("__cc") * 4 >= F.col("n"), F.col(value_col)
            )
        ).alias("q1"),
        F.min(
            F.when(
                F.col("__cc") * 4 >= F.col("n") * 3, F.col(value_col)
            )
        ).alias("q3"),
    )
    fenced = j.join(q.select(group_col, "q1", "q3"), group_col)
    tails = fenced.groupBy(group_col).agg(
        F.sum(
            F.when(
                F.col(value_col) * 2
                < F.col("q1") * 2 - (F.col("q3") - F.col("q1")) * 3,
                F.col("__c"),
            ).otherwise(F.lit(0))
        ).alias("n_low"),
        F.sum(
            F.when(
                F.col(value_col) * 2
                > F.col("q3") * 2 + (F.col("q3") - F.col("q1")) * 3,
                F.col("__c"),
            ).otherwise(F.lit(0))
        ).alias("n_high"),
    )
    return q.join(tails, group_col).select(
        group_col, "n", "q1", "q3", "n_low", "n_high"
    )


def rfm_segments(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    amount_col: str,
    n_bins: int = 5,
) -> DataFrame:
    """RFM (recency / frequency / monetary) segmentation → one row per
    populated (r_score, f_score, m_score) cell with the entity count:
    the classic customer-base summary (≤ n_bins³ output rows).

    Per entity: recency = latest activity ts (later ⇒ higher score),
    frequency = row count, monetary = Σ amount. Each dimension is
    scored into exact rank-based bins: score = (rank−1)·n_bins div n
    + 1 with rank from `cumulative.ordered_prefix` — deterministic
    under ties, reproducible across engines (unlike ntile over a
    driver-dependent partitioning), and never a single-task global
    sort.

    r12 optimization: the three dimensions rank in ONE stacked pass
    instead of three. The entity dim is unpivoted to (dim, value,
    entity) — 3n narrow rows — and ranked by (dim, value, entity) in a
    single `ordered_prefix` (one range shuffle + one offsets collect);
    because every dim block holds exactly n rows, the per-dimension
    rank is just global_rank − dim·n. One hash shuffle on the entity
    pivots the three scores back onto one row. Same shuffled bytes as
    the former three range passes, a third of the barriers/passes at
    every scale; the per-dimension order (value, entity) is unchanged,
    so scores are bit-identical."""
    from .cumulative import ordered_prefix

    per = df.groupBy(entity_col).agg(
        F.max(F.col(ts_col).cast("long")).alias("__r"),
        F.count(F.lit(1)).alias("__f"),
        F.sum(F.col(amount_col).cast("long")).alias("__m"),
    )
    # the entity dim feeds the count AND the rank pass — pin it once
    # so the fact-table aggregation doesn't re-run per consumer. Lazy
    # checkpoint + count = ONE materializing job, not two (the count
    # action is what persists the blocks)
    per = per.localCheckpoint(eager=False)
    n = per.count()

    stacked = reduce(
        DataFrame.unionByName,
        [
            per.select(
                F.lit(d).alias("__dim"),
                F.col(c).alias("__val"),
                F.col(entity_col),
            )
            for d, c in enumerate(("__r", "__f", "__m"))
        ],
    )
    ranked = ordered_prefix(
        stacked, ["__dim", "__val", entity_col], row_col="__rk"
    )
    scored_long = ranked.withColumn(
        "__score",
        F.expr(f"(__rk - 1 - __dim * {n}) * {n_bins} div {n}").cast("long")
        + 1,
    )
    score_of = lambda d: F.max(  # noqa: E731 — one row per (entity, dim)
        F.when(F.col("__dim") == d, F.col("__score"))
    )
    wide = scored_long.groupBy(entity_col).agg(
        score_of(0).alias("r_score"),
        score_of(1).alias("f_score"),
        score_of(2).alias("m_score"),
    )
    return wide.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_entities")
    )


def contingency_with_expected(
    df: DataFrame,
    row_col: str,
    col_col: str,
) -> DataFrame:
    """Contingency table with chi-square sufficient statistics →
    (row, col, obs, row_total, col_total, exp_num): observed counts,
    marginals, and the expected-count NUMERATOR row_total·col_total as
    a DECIMAL(38,0) digit string (expected = exp_num / grand_total; the
    χ² sum is then floats only at the caller's final step). The
    experiment-analysis primitive (A/B variant × outcome).

    One hash-agg over the data; marginals are windows over the TINY
    |rows|×|cols| contingency table itself, never the data."""
    obs = df.groupBy(row_col, col_col).agg(F.count(F.lit(1)).alias("obs"))
    wr = Window.partitionBy(row_col)
    wc = Window.partitionBy(col_col)
    return (
        obs.withColumn("row_total", F.sum("obs").over(wr))
        .withColumn("col_total", F.sum("obs").over(wc))
        .withColumn(
            "exp_num",
            (
                F.col("row_total").cast("decimal(38,0)")
                * F.col("col_total").cast("decimal(38,0)")
            ).cast("decimal(38,0)"),
        )
    )


def psi_sufficient_stats(
    df: DataFrame,
    bucket_col: str,
    split_col: str,
    split_a: str,
    split_b: str,
) -> DataFrame:
    """Population-stability-index sufficient statistics between two
    splits → one row per bucket: (bucket, a, b, a_tot, b_tot,
    a_x_btot, b_x_atot). PSI = Σ (aᵢ/A − bᵢ/B)·ln((aᵢ/A)/(bᵢ/B)) — the
    distribution-drift monitor for ML features/scores. The log makes
    the index itself float, so (as with the χ² entry) the ORACLE-EXACT
    output is the sufficient statistics: the counts, the totals, and
    the exact cross products aᵢ·B and bᵢ·A as DECIMAL(38,0) digit
    strings — the PSI term's ratio argument is aᵢB/bᵢA, so the caller
    reaches floats only in the final ln. `psi_value` computes that
    final float from these rows.

    One hash-agg over the data (conditional counts per bucket); the
    totals are windows over the TINY bucket table, never the data."""
    h = df.groupBy(bucket_col).agg(
        F.sum(
            F.when(F.col(split_col) == split_a, 1).otherwise(0)
        ).alias("a"),
        F.sum(
            F.when(F.col(split_col) == split_b, 1).otherwise(0)
        ).alias("b"),
    )
    w = Window.partitionBy()
    return (
        h.withColumn("a_tot", F.sum("a").over(w))
        .withColumn("b_tot", F.sum("b").over(w))
        .withColumn(
            "a_x_btot",
            (
                F.col("a").cast("decimal(38,0)")
                * F.col("b_tot").cast("decimal(38,0)")
            ).cast("decimal(38,0)"),
        )
        .withColumn(
            "b_x_atot",
            (
                F.col("b").cast("decimal(38,0)")
                * F.col("a_tot").cast("decimal(38,0)")
            ).cast("decimal(38,0)"),
        )
    )


def psi_value(stats: DataFrame) -> float:
    """Fold `psi_sufficient_stats` rows to the scalar PSI (floats only
    here, at the very end; buckets empty on either side are skipped —
    add-epsilon smoothing is a caller policy, not hidden here)."""
    rows = stats.filter((F.col("a") > 0) & (F.col("b") > 0)).select(
        (
            (F.col("a") / F.col("a_tot") - F.col("b") / F.col("b_tot"))
            * F.log(
                (F.col("a") / F.col("a_tot"))
                / (F.col("b") / F.col("b_tot"))
            )
        ).alias("term")
    )
    out = rows.agg(F.sum("term")).first()[0]
    return float(out or 0.0)


def grouped_percentiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    ps: tuple[int, ...] = (50, 95, 99),
) -> DataFrame:
    """Exact type-1 (discrete, no interpolation) percentiles per group
    → (group, n, p<P>...): p-th percentile = the smallest value whose
    cumulative count satisfies 100·cum ≥ p·n. The latency-SLO shape
    (p50/p95/p99 per service), engine-identical on integers.

    Same histogram reduction as `iqr_outlier_summary`: one hash-agg to
    (group, value, count), then the per-group cumulative window runs
    over DISTINCT VALUES, never raw rows — the scale-correct form when
    groups are huge but value domains are bounded (cents, ms buckets).
    """
    if not all(0 < p <= 100 for p in ps):
        raise ValueError("percentiles must be in (0, 100]")
    h = df.groupBy(group_col, value_col).agg(
        F.count(F.lit(1)).alias("__c")
    )
    wcum = (
        Window.partitionBy(group_col)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = h.withColumn("__cc", F.sum("__c").over(wcum))
    tot = h.groupBy(group_col).agg(F.sum("__c").alias("n"))
    j = cum.join(tot, group_col)
    aggs = [F.max("n").alias("n")]
    for p in ps:
        aggs.append(
            F.min(
                F.when(
                    F.col("__cc") * 100 >= F.col("n") * p, F.col(value_col)
                )
            ).alias(f"p{p}")
        )
    return j.groupBy(group_col).agg(*aggs)


def ohlc_bars(
    df: DataFrame,
    group_cols: list[str],
    ts_col: str,
    tiebreak_col: str,
    value_col: str,
) -> DataFrame:
    """OHLC bar aggregation per group → (…group, open, high, low,
    close, n_events, volume): open/close are the values at the
    group's FIRST/LAST (ts, tiebreak) — `min_by`/`max_by` over the
    composite key, so the whole bar is ONE hash-aggregate (commutative,
    map-side combined, no window, no sort). The time-series bar /
    downsampling primitive; pass a unique tiebreak so equal timestamps
    are deterministic."""
    key = F.struct(F.col(ts_col), F.col(tiebreak_col))
    v = F.col(value_col)
    return df.groupBy(*group_cols).agg(
        F.min_by(v, key).alias("open"),
        F.max(v).alias("high"),
        F.min(v).alias("low"),
        F.max_by(v, key).alias("close"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(v).alias("volume"),
    )
