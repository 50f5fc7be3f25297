"""Round-7 surface additions (zy1–zy8): entity-resolution fuzzy join,
exact-integer EWMA, linear interpolation (the `interpolate` companion of
zx3's LOCF), degree-assortativity sufficient statistics, Benford
first-digit profiling, Markov transition matrices over event logs,
exact rolling medians, and per-row EWMA anomaly residuals.

Names sort between zx8 and the zz_ tail so every entry lands in the
driver's recorded 50-name CORRECTNESS window this round (see PARITY.md
on the r6/r7 rotations).

Exactness rules follow suite/base.py and extras.py: integer cents, `div`
only on non-negative operands (floor ≡ truncation there), 128-bit
products as DECIMAL(38,0)/HUGEINT digit strings, unique tiebreaks under
every window order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .base import load, register

_CENTS_SQL = "CAST(round({col} * 100) AS BIGINT)"


def _cents(col):
    return F.round(col * F.lit(100)).cast("bigint")


# --------------------------------------------------------------------------
# zy1: blocked fuzzy self-join — the record-linkage primitive (match
# near-identical part names under edit distance). Blocking on
# (p_size, first name token) bounds candidate volume to Σ|block|²;
# levenshtein is a JVM built-in on both engines, so the distance — and
# therefore the pair set — is exact, no float similarity anywhere.
# --------------------------------------------------------------------------
@register(
    "zy1_fuzzy_match",
    sql="""
    WITH p AS (
      SELECT p_partkey, p_name, p_size,
             split_part(p_name, ' ', 1) AS tok1
      FROM part
    )
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
    FROM p a JOIN p b
      ON a.p_size = b.p_size AND a.tok1 = b.tok1
     AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 4
    """,
    survey_ref="LLM-pipeline: entity resolution (blocked edit-distance "
    "join; same bounded-block posture as the LSH band join)",
    tags=("join", "dedup"),
    bench=True,
)
def zy1_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.joins import fuzzy_match_pairs

    (part,) = load(spark, sf_dir, "part")
    p = part.select(
        "p_partkey",
        "p_name",
        "p_size",
        F.split(F.col("p_name"), " ")[0].alias("tok1"),
    )
    return fuzzy_match_pairs(
        p, "p_partkey", "p_name", ["p_size", "tok1"], max_dist=4
    ).withColumn("dist", F.col("dist").cast("int"))


# --------------------------------------------------------------------------
# zy2: exact-integer EWMA per customer — a linear RECURRENCE no window
# frame expresses: s₀=v₀, sᵢ=(vᵢ+3·sᵢ₋₁) div 4 over the customer's
# orders in (date, key) order. Spark folds it JVM-side with one
# aggregate() HOF over the group's sorted rows (state = one int64); the
# oracle unrolls the same recurrence as a recursive CTE. Engine-
# identical because every step is int64 `div` on non-negatives.
# --------------------------------------------------------------------------
@register(
    "zy2_ewma_cents",
    sql=f"""
    WITH RECURSIVE o AS (
      SELECT o_custkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate ASC, o_orderkey ASC)
               AS rn,
             {_CENTS_SQL.format(col='o_totalprice')} AS v
      FROM orders
    ),
    rec AS (
      SELECT o_custkey, rn, v AS s FROM o WHERE rn = 1
      UNION ALL
      SELECT o.o_custkey, o.rn, (1 * o.v + 3 * rec.s) // 4
      FROM rec JOIN o ON o.o_custkey = rec.o_custkey AND o.rn = rec.rn + 1
    )
    SELECT o_custkey, CAST(max(rn) AS BIGINT) AS n,
           CAST(arg_max(s, rn) AS BIGINT) AS ewma
    FROM rec GROUP BY 1
    """,
    survey_ref="SURVEY §2.6: sequencing family (exact integer EWMA "
    "recurrence, JVM aggregate fold)",
    tags=("window", "agg"),
)
def zy2_ewma_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cumulative import ewma_int

    (orders,) = load(spark, sf_dir, "orders")
    o = orders.select(
        "o_custkey",
        "o_orderdate",
        "o_orderkey",
        _cents(F.col("o_totalprice")).alias("v"),
    )
    return ewma_int(
        o, "o_custkey", ["o_orderdate", "o_orderkey"], "v", a_num=1, a_den=4
    )


# --------------------------------------------------------------------------
# zy3: linear interpolation onto the dense per-key month grid — the
# hypertable `interpolate` companion of zx3's LOCF gap fill. The lerp is
# arranged as (v0·(b1−b) + v1·(b−b0)) div (b1−b0): a sum of NON-NEGATIVE
# products, because `div` is floor in DuckDB but truncation in Spark and
# they only agree on non-negatives.
# --------------------------------------------------------------------------
@register(
    "zy3_linear_interp",
    sql=f"""
    WITH b AS (
      SELECT o_custkey,
             year(o_orderdate) * 12 + month(o_orderdate) AS bucket,
             CAST(sum({_CENTS_SQL.format(col='o_totalprice')}) AS BIGINT)
               AS cents
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1, 2
    ),
    s AS (SELECT o_custkey, min(bucket) AS lo, max(bucket) AS hi
          FROM b GROUP BY 1),
    g AS (SELECT o_custkey, unnest(generate_series(lo, hi)) AS bucket
          FROM s),
    j AS (
      SELECT g.o_custkey, g.bucket, b.cents,
             b.bucket IS NOT NULL AS observed
      FROM g LEFT JOIN b
        ON g.o_custkey = b.o_custkey AND g.bucket = b.bucket
    ),
    w AS (
      SELECT o_custkey, bucket, cents, observed,
             last_value(CASE WHEN observed THEN
                 struct_pack(b := bucket, v := cents) END IGNORE NULLS)
               OVER (PARTITION BY o_custkey ORDER BY bucket ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
             first_value(CASE WHEN observed THEN
                 struct_pack(b := bucket, v := cents) END IGNORE NULLS)
               OVER (PARTITION BY o_custkey ORDER BY bucket ASC
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nx
      FROM j
    )
    SELECT o_custkey, bucket,
           CAST(CASE WHEN observed THEN cents
                ELSE (p.v * (nx.b - bucket) + nx.v * (bucket - p.b))
                     // (nx.b - p.b) END AS BIGINT) AS cents,
           observed
    FROM w
    """,
    survey_ref="SURVEY §2.6: hypertable resample family (linear "
    "interpolation twin of zx3's LOCF)",
    tags=("window", "join"),
)
def zy3_linear_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.joins import linear_interpolate

    (orders,) = load(spark, sf_dir, "orders")
    # repartition by the KEY alone before the (key, bucket) aggregate:
    # hashpartitioning(o_custkey) satisfies the aggregate's clustering
    # requirement AND the interpolation window's, so the whole entry
    # runs on ONE exchange (the aggregation factor of (cust, month) on
    # orders is ~1, so the lost map-side partial aggregation costs
    # nothing at any scale — r12 plan diff: 2 shuffle Exchanges +
    # 1 BroadcastExchange + join → 1 shuffle Exchange)
    # o_orderdate IS NOT NULL mirrors the oracle's WHERE and is
    # load-bearing: the former grid-join shape let Catalyst infer
    # isnotnull(bucket) below the aggregate, pruning null-date rows
    # BEFORE the ANSI money cast; the r12 join-free shape lost that
    # inferred filter, so a null-date row carrying NaN money crashed
    # the cast where the oracle computes (dirty-sweep catch, r12).
    b = (
        orders.where(F.col("o_orderdate").isNotNull())
        .select(
            "o_custkey",
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias(
                "bucket"
            ),
            _cents(F.col("o_totalprice")).alias("cents"),
        )
        .repartition("o_custkey")
        .groupBy("o_custkey", "bucket")
        .agg(F.sum("cents").cast("bigint").alias("cents"))
    )
    return linear_interpolate(b, "o_custkey", "bucket", "cents")


# --------------------------------------------------------------------------
# zy4: degree-assortativity sufficient statistics over the co-supply
# graph (z42's thresholded supplier edges) — every term exact int64 /
# 128-bit, so the Pearson-over-edges coefficient derives driver-side
# from engine-identical sums. Graph-topology QA for the tx-graph family.
# --------------------------------------------------------------------------
@register(
    "zy4_assortativity",
    sql="""
    WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    e AS (
      SELECT a.l_suppkey AS u, b.l_suppkey AS v
      FROM os a JOIN os b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      GROUP BY 1, 2 HAVING count(*) >= 4
    ),
    und AS (SELECT u, v FROM e UNION SELECT v AS u, u AS v FROM e),
    d AS (SELECT u, count(*) AS deg FROM und GROUP BY 1)
    SELECT count(*) AS m,
           CAST(sum(dj.deg) AS BIGINT) AS sum_j,
           CAST(sum(dk.deg) AS BIGINT) AS sum_k,
           CAST(sum(CAST(dj.deg AS HUGEINT) * dk.deg) AS VARCHAR) AS sum_jk,
           CAST(sum(CAST(dj.deg AS HUGEINT) * dj.deg) AS VARCHAR) AS sum_j2,
           CAST(sum(CAST(dk.deg AS HUGEINT) * dk.deg) AS VARCHAR) AS sum_k2
    FROM und
    JOIN d dj ON und.u = dj.u
    JOIN d dk ON und.v = dk.u
    """,
    survey_ref="graph analytics: degree assortativity (exact sufficient "
    "statistics; z42's edge list)",
    tags=("graph", "agg", "stats"),
)
def zy4_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import degree_assortativity_stats

    (lineitem,) = load(spark, sf_dir, "lineitem")
    os_pairs = lineitem.select("l_orderkey", "l_suppkey").distinct()
    a, b = os_pairs.alias("a"), os_pairs.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .groupBy(
            F.col("a.l_suppkey").alias("src"),
            F.col("b.l_suppkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= 4)
        .select("src", "dst")
    )
    # the groupBy above emits DISTINCT (src, dst) rows with src < dst
    # strictly (the join condition), so the operator may skip its
    # symmetrize-distinct exchange (r13; equality test-pinned)
    return degree_assortativity_stats(edges, edges_canonical=True)


# --------------------------------------------------------------------------
# zy5: Benford first-digit profile per order priority — monetary
# data-quality screening. The digit comes from the integer's decimal
# STRING, never pow/log10 floats, so the distribution is exact.
# --------------------------------------------------------------------------
@register(
    "zy5_benford_digits",
    sql=f"""
    WITH c AS (
      SELECT o_orderpriority,
             {_CENTS_SQL.format(col='o_totalprice')} AS cents
      FROM orders
      WHERE {_CENTS_SQL.format(col='o_totalprice')} > 0
    ),
    d AS (
      SELECT o_orderpriority,
             CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit,
             count(*) AS n
      FROM c GROUP BY 1, 2
    )
    SELECT o_orderpriority, digit, n,
           CAST(1000 * n // sum(n) OVER (PARTITION BY o_orderpriority)
                AS BIGINT) AS permille
    FROM d
    """,
    survey_ref="LLM-pipeline: data-quality profiling (Benford first "
    "digit, string-exact)",
    tags=("stats", "agg"),
)
def zy5_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import benford_first_digit

    (orders,) = load(spark, sf_dir, "orders")
    c = orders.select(
        "o_orderpriority", _cents(F.col("o_totalprice")).alias("cents")
    )
    return benford_first_digit(c, "o_orderpriority", "cents")


# --------------------------------------------------------------------------
# zy6: first-order transition matrix over each user's event sequence —
# the Markov-chain generalization of z27's fixed funnel (every adjacent
# pair, not one path). One lead() window + one hash-agg.
# --------------------------------------------------------------------------
@register(
    "zy6_transitions",
    sql="""
    WITH s AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY epoch_ns(ts) ASC NULLS FIRST,
                                             event_id ASC NULLS FIRST)
               AS nxt
      FROM events
    )
    SELECT event_type AS state_from, nxt AS state_to, count(*) AS n
    FROM s WHERE nxt IS NOT NULL GROUP BY 1, 2
    """,
    survey_ref="SURVEY §2.6: event sequencing (Markov transition "
    "matrix, z27 funnel family)",
    tags=("window", "agg", "events"),
)
def zy6_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cumulative import transition_counts

    (events,) = load(spark, sf_dir, "events")
    return transition_counts(
        events, "user_id", ["ts", "event_id"], "event_type"
    )


# --------------------------------------------------------------------------
# zy7: exact rolling median (doubled) over each customer's last-7-order
# frame — the moving-window robust twin of z34's moving average. Doubled
# median = the sum of the two middle elements of the sorted frame
# (FP-exact: midpoint of two int64s; both engines use the (n−1)·q
# interpolation convention), so the statistic is engine-identical.
# Spark has no windowed percentile — the frame is collect_list'd,
# array_sort'd and indexed JVM-side (frame size ≤ 7, state bounded).
# --------------------------------------------------------------------------
@register(
    "zy7_rolling_median",
    sql=f"""
    WITH o AS (
      SELECT o_custkey, o_orderkey,
             {_CENTS_SQL.format(col='o_totalprice')} AS cents,
             o_orderdate
      FROM orders
    )
    SELECT o_custkey, o_orderkey, cents,
           CAST(2 * quantile_cont(cents, 0.5) OVER w AS BIGINT) AS med2
    FROM o
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_orderdate ASC, o_orderkey ASC
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
    survey_ref="SURVEY §2.6: window functions (rolling exact median; "
    "z34 family)",
    tags=("window", "stats"),
)
def zy7_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load(spark, sf_dir, "orders")
    o = orders.select(
        "o_custkey",
        "o_orderkey",
        _cents(F.col("o_totalprice")).alias("cents"),
        "o_orderdate",
    )
    frame = (
        "OVER (PARTITION BY o_custkey "
        "ORDER BY o_orderdate ASC, o_orderkey ASC "
        "ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)"
    )
    arr = f"sort_array(collect_list(cents) {frame})"
    return o.withColumn(
        "med2",
        F.expr(
            f"element_at({arr}, CAST((size({arr}) + 1) div 2 AS INT)) + "
            f"element_at({arr}, CAST(size({arr}) div 2 + 1 AS INT))"
        ),
    ).select("o_custkey", "o_orderkey", "cents", "med2")


# --------------------------------------------------------------------------
# zy8: per-row EWMA states + residuals — the anomaly-score companion of
# zy2's terminal EWMA: every order carries its entity's running
# smoothed level and the exact integer residual against it. The oracle
# unrolls the identical recurrence per row in a recursive CTE.
# --------------------------------------------------------------------------
@register(
    "zy8_ewma_residual",
    sql=f"""
    WITH RECURSIVE o AS (
      SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate ASC, o_orderkey ASC)
               AS rn,
             {_CENTS_SQL.format(col='o_totalprice')} AS v
      FROM orders
    ),
    rec AS (
      SELECT o_custkey, o_orderkey, rn, v, v AS s FROM o WHERE rn = 1
      UNION ALL
      SELECT o.o_custkey, o.o_orderkey, o.rn, o.v,
             (1 * o.v + 3 * rec.s) // 4
      FROM rec JOIN o ON o.o_custkey = rec.o_custkey AND o.rn = rec.rn + 1
    )
    SELECT o_custkey, o_orderkey, CAST(v AS BIGINT) AS v,
           CAST(s AS BIGINT) AS s, CAST(v - s AS BIGINT) AS resid
    FROM rec
    """,
    survey_ref="LLM-pipeline: per-entity anomaly scoring (running EWMA "
    "residual, exact integer recurrence)",
    tags=("window", "stats"),
)
def zy8_ewma_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cumulative import ewma_states

    (orders,) = load(spark, sf_dir, "orders")
    o = orders.select(
        "o_custkey",
        "o_orderdate",
        "o_orderkey",
        _cents(F.col("o_totalprice")).alias("v"),
    )
    out = ewma_states(
        o, "o_custkey", ["o_orderdate", "o_orderkey"], "v", a_num=1, a_den=4
    )
    return out.select("o_custkey", "o_orderkey", "v", "s", "resid")


# --------------------------------------------------------------------------
# zy9: mergeable-sketch distinct counting — per-day HLL sketches union
# to the global per-type distinct-user count (union-of-partials ≡
# sketch-of-union, expressed in one plan). HLL estimates are
# engine-specific, so the deterministic contract follows a02: exact
# count + `within_tol` asserting the merged estimate landed inside
# 5·rsd of exact (rsd ≈ 1.04/√2^lgk ≈ 1.6% at lgk=12; the 5σ band
# absorbs hash-unlucky keys at any sf).
# --------------------------------------------------------------------------
_ZY9_LGK = 12
_ZY9_TOL = 5 * 1.04 / (2**_ZY9_LGK) ** 0.5


@register(
    "zy9_sketch_union",
    sql="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact,
           TRUE AS within_tol
    FROM events GROUP BY event_type
    """,
    survey_ref="readme.md:226 sketches TODO — mergeable HLL "
    "(union-of-partial-sketches ≡ sketch-of-union)",
    tags=("agg", "sketch"),
)
def zy9_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load(spark, sf_dir, "events")
    day = F.expr("ts div 86400000000000").alias("day")
    daily = events.select("event_type", day, "user_id").groupBy(
        "event_type", "day"
    ).agg(F.hll_sketch_agg("user_id", F.lit(_ZY9_LGK)).alias("sk"))
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("__est")
    )
    exact = events.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users_exact")
    )
    tol = F.greatest(
        F.lit(1.0),
        F.lit(_ZY9_TOL) * F.col("n_users_exact").cast("double"),
    )
    # null-safe: the GROUP BY keeps a NULL event_type group, so the
    # sketch⋈exact join must not silently drop it (the r9 Misra-Gries
    # null-lane class, caught again by the dirty-twin sweep)
    return exact.join(
        merged, exact.event_type.eqNullSafe(merged.event_type)
    ).select(
        exact.event_type.alias("event_type"),
        "n_users_exact",
        (
            F.abs(
                F.col("__est").cast("double")
                - F.col("n_users_exact").cast("double")
            )
            <= tol
        ).alias("within_tol"),
    )
