"""Round-7 surface additions, batch 2 (zya1–zya9): skyline/Pareto
queries, deequ-style data-quality audits (referential integrity, column
profiling), exact time-weighted averages, deterministic per-group
sampling, market-basket co-occurrence, retrieval-index builds, bipartite
link prediction, and sketch-then-verify heavy hitters.

Names sort right after zy9 and before the `zz_` tail, so all nine land
inside the driver's recorded 50-name CORRECTNESS window this round
(every `zz_` entry they displace already has an r4–r6 recorded row —
see PARITY.md on the window rotations).

Exactness rules are the suite's usual: integer cents, 128-bit sums as
DECIMAL(38,0)/HUGEINT digit strings, md5 (not rand/hash) wherever an
engine-identical pseudo-random order is needed, and a unique tiebreak
under every window order."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .base import load, register

_CENTS_SQL = "CAST(round({col} * 100) AS BIGINT)"


def _cents(col):
    return F.round(col * F.lit(100)).cast("bigint")


# --------------------------------------------------------------------------
# zya1: 2-D skyline — Pareto-optimal parts (maximize size AND price).
# Never all-pairs: per-x max + distributed strict-prefix max over
# distinct x (ordered_prefix), then a semi-join back. The oracle is the
# textbook NOT EXISTS dominance predicate — quadratic, which is exactly
# why the operator exists.
# --------------------------------------------------------------------------
@register(
    "zya1_pareto_frontier",
    sql=f"""
    WITH p AS (
      SELECT p_partkey, p_size,
             {_CENTS_SQL.format(col='p_retailprice')} AS price_cents
      FROM part
    )
    SELECT a.p_partkey, a.p_size, a.price_cents
    FROM p a
    WHERE NOT EXISTS (
      SELECT 1 FROM p b
      WHERE b.p_size >= a.p_size AND b.price_cents >= a.price_cents
        AND (b.p_size > a.p_size OR b.price_cents > a.price_cents)
    )
    """,
    survey_ref="SURVEY §2.6 Spark-first family: multi-objective skyline "
    "(sort-prune, no all-pairs dominance join)",
    tags=("window", "agg"),
)
def zya1_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import pareto_frontier_2d

    (part,) = load(spark, sf_dir, "part")
    p = part.select(
        "p_partkey",
        F.col("p_size").cast("long").alias("p_size"),
        _cents(F.col("p_retailprice")).alias("price_cents"),
    )
    return pareto_frontier_2d(p, "p_size", "price_cents").select(
        "p_partkey", "p_size", "price_cents"
    )


# --------------------------------------------------------------------------
# zya2: referential-integrity audit — one row per FK relation with its
# orphan count (NOT EXISTS semantics: NULL keys are never orphans).
# The deequ-style validation pass a pipeline runs before training.
# --------------------------------------------------------------------------
_FK_SQL_ROW = """
    SELECT '{name}' AS relation,
           (SELECT count(*) FROM {child}) AS child_rows,
           (SELECT count(*) FROM {child} c
             WHERE c.{ck} IS NOT NULL
               AND NOT EXISTS (SELECT 1 FROM {parent} p
                               WHERE p.{pk} = c.{ck})) AS orphans
"""

_FK_RELATIONS = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey", "lineitem_orders"),
    ("lineitem", "l_partkey", "part", "p_partkey", "lineitem_part"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey", "lineitem_supplier"),
    ("orders", "o_custkey", "customer", "c_custkey", "orders_customer"),
    ("customer", "c_nationkey", "nation", "n_nationkey", "customer_nation"),
    ("supplier", "s_nationkey", "nation", "n_nationkey", "supplier_nation"),
    ("nation", "n_regionkey", "region", "r_regionkey", "nation_region"),
]


@register(
    "zya2_fk_audit",
    sql=" UNION ALL ".join(
        _FK_SQL_ROW.format(name=name, child=child, ck=ck, parent=parent, pk=pk)
        for child, ck, parent, pk, name in _FK_RELATIONS
    ),
    survey_ref="C7/C9 generalized (ChainIndexer missing-height audit → "
    "whole-schema referential-integrity audit, anti-joins)",
    tags=("quality", "join"),
)
def zya2_fk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quality import fk_audit

    tables = dict(
        zip(
            ("lineitem", "orders", "part", "supplier", "customer", "nation", "region"),
            load(
                spark,
                sf_dir,
                "lineitem",
                "orders",
                "part",
                "supplier",
                "customer",
                "nation",
                "region",
            ),
        )
    )
    return fk_audit(
        [
            (tables[child], ck, tables[parent], pk, name)
            for child, ck, parent, pk, name in _FK_RELATIONS
        ]
    )


# --------------------------------------------------------------------------
# zya3: single-pass column profiling — nulls/distinct/min/max for every
# column of the (typed-normalized) orders table in ONE scan, unpivoted
# with stack(). Doubles go through cents and dates through ISO strings
# so min/max render engine-identically.
# --------------------------------------------------------------------------
_ZYA3_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_orderpriority",
    "price_cents",
    "o_orderdate",
]

_ZYA3_ORACLE_ROW = """
    SELECT '{c}' AS col_name,
           (SELECT count(*) FROM t) AS n_rows,
           (SELECT count(*) FROM t WHERE {c} IS NULL) AS n_nulls,
           (SELECT count(DISTINCT {c}) FROM t) AS n_distinct,
           CAST((SELECT min({c}) FROM t) AS VARCHAR) AS min_val,
           CAST((SELECT max({c}) FROM t) AS VARCHAR) AS max_val
"""


@register(
    "zya3_profile",
    sql="WITH t AS (SELECT o_orderkey, o_custkey, o_orderstatus, "
    "o_orderpriority, "
    f"{_CENTS_SQL.format(col='o_totalprice')} AS price_cents, "
    "CAST(o_orderdate AS VARCHAR) AS o_orderdate FROM orders) "
    + " UNION ALL ".join(_ZYA3_ORACLE_ROW.format(c=c) for c in _ZYA3_COLS),
    survey_ref="LLM-pipeline: dataset profiling (deequ-style column "
    "statistics, one-scan wide aggregate + stack)",
    tags=("quality", "agg"),
)
def zya3_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quality import profile_columns

    (orders,) = load(spark, sf_dir, "orders")
    t = orders.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_orderpriority",
        _cents(F.col("o_totalprice")).alias("price_cents"),
        F.col("o_orderdate").cast("string").alias("o_orderdate"),
    )
    return profile_columns(t, _ZYA3_COLS)


# --------------------------------------------------------------------------
# zya4: exact time-weighted average per user — value holds until the
# next event (LOCF), weight = hold duration in ns. cents × ns overflows
# int64, so the numerator is a DECIMAL(38,0)/HUGEINT digit string.
# --------------------------------------------------------------------------
@register(
    "zya4_time_weighted",
    sql=f"""
    WITH e AS (
      SELECT user_id, epoch_ns(ts) AS t,
             {_CENTS_SQL.format(col='value')} AS v, event_id,
             lead(epoch_ns(ts)) OVER (PARTITION BY user_id
                                      ORDER BY epoch_ns(ts) ASC,
                                               event_id ASC) AS tnext
      FROM events
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_obs,
           CAST(max(t) - min(t) AS BIGINT) AS span,
           CAST(sum(CASE WHEN tnext IS NOT NULL
                         THEN CAST(v AS HUGEINT) * (tnext - t) END)
                AS VARCHAR) AS twa_num
    FROM e GROUP BY 1
    """,
    survey_ref="SURVEY §2.6 temporal family: time-weighted (gauge) "
    "rollup over LOCF segments, exact integer fraction",
    tags=("window", "agg"),
)
def zya4_time_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cumulative import time_weighted_stats

    (events,) = load(spark, sf_dir, "events")
    e = events.select(
        "user_id", "ts", _cents(F.col("value")).alias("v"), "event_id"
    )
    out = time_weighted_stats(e, "user_id", "ts", "v", "event_id")
    return out.select(
        "user_id",
        "n_obs",
        "span",
        F.col("twa_num").cast("string").alias("twa_num"),
    )


# --------------------------------------------------------------------------
# zya5: deterministic k-per-group sample — rank by md5(doc_id) within
# each source, keep rank ≤ 5. The reproducible eval-set draw: exact
# per-group counts, identical across engines, partition layouts, and
# re-runs (none of which holds for seeded rand()).
# --------------------------------------------------------------------------
_ZYA5_K = 5


@register(
    "zya5_group_sample",
    sql=f"""
    WITH r AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC NULLS FIRST,
                        doc_id ASC NULLS FIRST
             ) AS rk
      FROM documents
    )
    SELECT doc_id, source, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= {_ZYA5_K}
    """,
    survey_ref="LLM-pipeline: reproducible stratified-k eval draw "
    "(md5-order sampling; rate-based twin is x06/z05)",
    tags=("curation", "sampling"),
)
def zya5_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import hash_order_sample

    (docs,) = load(spark, sf_dir, "documents")
    return hash_order_sample(
        docs.select("doc_id", "source"), "source", "doc_id", _ZYA5_K
    ).select("doc_id", "source", "rk")


# --------------------------------------------------------------------------
# zya6: market-basket pair mining — parts co-ordered in the same order,
# support ≥ 2, with a-priori pruning before the wedge join (items below
# min support can't be in a frequent pair).
# --------------------------------------------------------------------------
_ZYA6_SUPPORT = 2


@register(
    "zya6_item_pairs",
    sql=f"""
    WITH its AS (
      SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
    ),
    f AS (
      SELECT i FROM its GROUP BY i HAVING count(*) >= {_ZYA6_SUPPORT}
    )
    SELECT a.i AS item_a, c.i AS item_b, count(*) AS n_baskets
    FROM its a JOIN its c ON a.b = c.b AND a.i < c.i
    WHERE a.i IN (SELECT i FROM f) AND c.i IN (SELECT i FROM f)
    GROUP BY 1, 2 HAVING count(*) >= {_ZYA6_SUPPORT}
    """,
    survey_ref="LLM-pipeline: co-occurrence mining (a-priori pruned "
    "wedge join; feature pairs that fire together)",
    tags=("join", "agg"),
)
def zya6_item_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import cooccurrence_pairs

    (lineitem,) = load(spark, sf_dir, "lineitem")
    return cooccurrence_pairs(
        lineitem, "l_orderkey", "l_partkey", _ZYA6_SUPPORT
    )


# --------------------------------------------------------------------------
# zya7: inverted-index build — term → (df, total tf, ascending posting
# list) over the document corpus; the retrieval-index artifact. Posting
# lists serialize as comma-joined strings so both engines render one
# comparable value.
# --------------------------------------------------------------------------
_ZYA7_MIN_DF = 5
_ZYA7_TOKS = (
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),"
    " x -> x <> '')"
)


@register(
    "zya7_inverted_index",
    sql=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_ZYA7_TOKS}) AS term FROM documents
    ),
    tf AS (
      SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2
    )
    SELECT term, CAST(count(*) AS BIGINT) AS df,
           CAST(sum(tf) AS BIGINT) AS tf_total,
           array_to_string(list_sort(list(doc_id)), ',') AS postings
    FROM tf GROUP BY term HAVING count(*) >= {_ZYA7_MIN_DF}
    """,
    survey_ref="LLM-pipeline: retrieval-index build (posting lists, "
    "decontamination/attribution lookups)",
    tags=("text", "agg"),
)
def zya7_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import inverted_index

    (docs,) = load(spark, sf_dir, "documents")
    return inverted_index(docs, "doc_id", "text", min_df=_ZYA7_MIN_DF)


# --------------------------------------------------------------------------
# zya8: link prediction by common neighbors — customer pairs sharing
# ≥ 6 distinct parts (through orders⋈lineitem), with exact degrees for
# the caller's Jaccard fraction. Wedge join through the part key.
# --------------------------------------------------------------------------
_ZYA8_MIN_COMMON = 6


@register(
    "zya8_link_prediction",
    sql=f"""
    WITH e AS (
      SELECT DISTINCT o_custkey AS l, l_partkey AS r
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    d AS (SELECT l, count(*) AS deg FROM e GROUP BY 1),
    p AS (
      SELECT a.l AS node_a, b.l AS node_b, count(*) AS common
      FROM e a JOIN e b ON a.r = b.r AND a.l < b.l
      GROUP BY 1, 2 HAVING count(*) >= {_ZYA8_MIN_COMMON}
    )
    SELECT node_a, node_b, CAST(common AS BIGINT) AS common,
           CAST(da.deg AS BIGINT) AS deg_a,
           CAST(db.deg AS BIGINT) AS deg_b
    FROM p JOIN d da ON da.l = p.node_a JOIN d db ON db.l = p.node_b
    """,
    survey_ref="Q19 family extension: common-neighbor link prediction "
    "(wedge join, hub guard; graph.common_neighbor_links)",
    tags=("graph", "join"),
)
def zya8_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import common_neighbor_links

    lineitem, orders = load(spark, sf_dir, "lineitem", "orders")
    edges = lineitem.join(
        orders.select("o_orderkey", "o_custkey"),
        lineitem.l_orderkey == orders.o_orderkey,
    )
    return common_neighbor_links(
        edges, "o_custkey", "l_partkey", min_common=_ZYA8_MIN_COMMON
    )


# --------------------------------------------------------------------------
# zya9: sketch-then-verify heavy hitters — per-partition Misra-Gries
# summaries (bounded state, no shuffle) generate candidates; an exact
# recount keeps keys with count·k > n. The oracle is the exact
# definition — GROUP BY HAVING against the total — so the driver
# verifies the MG pass introduces no error.
# --------------------------------------------------------------------------
_ZYA9_K = 5


@register(
    "zya9_heavy_hitters",
    sql=f"""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1
    HAVING count(*) * {_ZYA9_K} > (SELECT count(*) FROM events)
    """,
    survey_ref="Q14 family extension: mergeable-summary heavy hitters "
    "(Misra-Gries candidates + exact verify; stats.py)",
    tags=("agg", "sketch"),
)
def zya9_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import misra_gries_heavy_hitters

    (events,) = load(spark, sf_dir, "events")
    return misra_gries_heavy_hitters(events, "event_type", _ZYA9_K)
