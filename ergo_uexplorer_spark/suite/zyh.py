"""Round-7 surface additions, batch 9 (zyh1–zyh2): multi-granularity
exact percentiles (grouping sets over a value histogram) and MinHash
sketch calibration (estimated vs exact Jaccard on LSH candidates)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .base import load, register
from .dedup import _SHINGLES, _TOKS
from ..operators import dedup as D
from ..operators.textops import SQL_HASH


# --------------------------------------------------------------------------
# zyh1: grouping-sets percentiles — exact median doc length at FOUR
# granularities ((source,lang), (source), (lang), ()) from ONE value
# histogram: the multi-granularity rollup and the scalable-percentile
# machinery composed. The cumulative window partitions by the grouping
# id + keys and runs over DISTINCT VALUES (bounded n_chars domain),
# never rows.
# --------------------------------------------------------------------------
@register(
    "zyh1_gs_percentiles",
    sql="""
    WITH h AS (
      SELECT source, lang, n_chars AS v, count(*) AS c
      FROM documents GROUP BY 1, 2, 3
    ),
    g AS (
      SELECT source, lang, v,
             CAST(GROUPING(source) AS INT) AS g_src,
             CAST(GROUPING(lang) AS INT) AS g_lang,
             sum(c) AS c
      FROM h
      GROUP BY GROUPING SETS ((source, lang, v), (source, v),
                              (lang, v), (v))
    ),
    cc AS (
      SELECT *,
             sum(c) OVER (PARTITION BY g_src, g_lang, source, lang
                          ORDER BY v ASC NULLS FIRST
                          ROWS UNBOUNDED PRECEDING) AS cum,
             sum(c) OVER (PARTITION BY g_src, g_lang, source, lang) AS n
      FROM g
    )
    SELECT source, lang, g_src, g_lang,
           CAST(max(n) AS BIGINT) AS n,
           CAST(min(CASE WHEN 2 * cum >= n THEN v END) AS BIGINT) AS p50
    FROM cc GROUP BY 1, 2, 3, 4
    """,
    survey_ref="z35 × zyd4 composition: exact medians at every rollup "
    "granularity from one histogram (no per-granularity rescan)",
    tags=("olap", "percentile"),
)
def zyh1_gs_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load(spark, sf_dir, "documents")
    h = docs.groupBy(
        "source", "lang", F.col("n_chars").alias("v")
    ).agg(F.count(F.lit(1)).alias("c"))
    g = h.groupingSets(
        [
            [F.col("source"), F.col("lang"), F.col("v")],
            [F.col("source"), F.col("v")],
            [F.col("lang"), F.col("v")],
            [F.col("v")],
        ],
        F.col("source"),
        F.col("lang"),
        F.col("v"),
    ).agg(
        F.grouping("source").cast("int").alias("g_src"),
        F.grouping("lang").cast("int").alias("g_lang"),
        F.sum("c").alias("c"),
    )
    keys = ["g_src", "g_lang", "source", "lang"]
    wcum = (
        Window.partitionBy(*keys)
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy(*keys)
    cc = g.withColumn("cum", F.sum("c").over(wcum)).withColumn(
        "n", F.sum("c").over(wall)
    )
    return cc.groupBy("source", "lang", "g_src", "g_lang").agg(
        F.max("n").cast("long").alias("n"),
        F.min(
            F.when(F.col("cum") * 2 >= F.col("n"), F.col("v"))
        ).cast("long").alias("p50"),
    )


# --------------------------------------------------------------------------
# zyh2: MinHash calibration — for every LSH CANDIDATE pair (including
# the sub-threshold ones verification would discard): the sketch's
# estimate (# agreeing minhashes of 12) next to the exact Jaccard
# sufficient statistics. The is-my-sketch-honest report — recall knobs
# (bands × rows) should be tuned from THIS table, not from folklore.
# --------------------------------------------------------------------------
def _calibration_sql() -> str:
    mh_cols = ", ".join(
        f"min(({D.MINHASH_A[i]} * hm + {D.MINHASH_B[i]}) % {D.MINHASH_PRIME})"
        f" AS mh{i}"
        for i in range(D.NUM_HASHES)
    )
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, concat_ws('-', {cols}) AS bsig"
        " FROM sig".format(
            b=bi,
            cols=", ".join(
                f"mh{bi * D.LSH_ROWS + r}" for r in range(D.LSH_ROWS)
            ),
        )
        for bi in range(D.LSH_BANDS)
    )
    agree = " + ".join(
        f"(CASE WHEN x.mh{i} = y.mh{i} THEN 1 ELSE 0 END)"
        for i in range(D.NUM_HASHES)
    )
    return f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    sh0 AS (SELECT doc_id, unnest({_SHINGLES}) AS s FROM toks),
    hs AS (SELECT DISTINCT doc_id, {SQL_HASH.format(col='s')} AS h FROM sh0),
    ncount AS (SELECT doc_id, count(*) AS nn FROM hs GROUP BY doc_id),
    hm0 AS (SELECT doc_id, h % {D.MINHASH_PRIME} AS hm FROM hs),
    sig AS (SELECT doc_id, {mh_cols} FROM hm0 GROUP BY doc_id),
    bands AS ({band_rows}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
    ),
    pairs0 AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
      FROM hs a JOIN hs b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT c.doc_a, c.doc_b,
           CAST({agree} AS BIGINT) AS est12,
           CAST(p.shared AS BIGINT) AS shared,
           CAST(na.nn AS BIGINT) AS na, CAST(nb.nn AS BIGINT) AS nb
    FROM cand c
    JOIN pairs0 p ON p.doc_a = c.doc_a AND p.doc_b = c.doc_b
    JOIN sig x ON x.doc_id = c.doc_a
    JOIN sig y ON y.doc_id = c.doc_b
    JOIN ncount na ON na.doc_id = c.doc_a
    JOIN ncount nb ON nb.doc_id = c.doc_b
    """


@register(
    "zyh2_minhash_calibration",
    sql=_calibration_sql(),
    survey_ref="d03 measurement rigor: sketch estimate vs exact Jaccard "
    "per LSH candidate (dedup.minhash_signatures/lsh_candidates)",
    tags=("dedup", "sketch", "quality"),
)
def zyh2_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.util import pin_corpus_dim

    (docs,) = load(spark, sf_dir, "documents")
    # ONE pinned doc-dim arrays table feeds signatures, candidate
    # generation AND the exact statistics (r13 — the d03 posture): the
    # former row-form `sh` persist (exploded corpus-sized table) and
    # its |cand|·|set| shared-count join are replaced by array_intersect
    # over the two candidates' arrays; na/nb are array sizes, so the
    # ncount aggregate disappears. Signatures from arrays are
    # bit-identical to the groupBy form (same hash family over the same
    # distinct sets — dedup.minhash_signatures_from_arrays docstring).
    arr = pin_corpus_dim(D.hashed_shingle_arrays(docs))
    sig = D.minhash_signatures_from_arrays(arr).localCheckpoint(eager=True)
    cand = D.lsh_candidates(sig).localCheckpoint(eager=True)

    agree = None
    for i in range(D.NUM_HASHES):
        term = (F.col(f"__a{i}") == F.col(f"__b{i}")).cast("long")
        agree = term if agree is None else agree + term
    siga = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{i}").alias(f"__a{i}") for i in range(D.NUM_HASHES)],
    )
    sigb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"__b{i}") for i in range(D.NUM_HASHES)],
    )
    est = (
        cand.join(siga, "doc_a")
        .join(sigb, "doc_b")
        .select("doc_a", "doc_b", agree.alias("est12"))
    )
    # Exact sufficient statistics CANDIDATE-SCOPED over the pinned
    # ARRAYS (r13, supersedes the r12 row-form walk): shared =
    # |array_intersect| on the two candidates' arrays — a per-pair
    # bounded computation with no exploded intermediate at all. The
    # shared > 0 filter reproduces the former inner shared-count
    # join's drop semantics exactly (an LSH candidate pair CAN share
    # zero shingles — banded minhash equality is a hash collision).
    exact = (
        cand.join(
            arr.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("__ha")),
            "doc_a",
        )
        .join(
            arr.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("__hb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("__ha", "__hb")).cast("long").alias(
                "shared"
            ),
            F.size("__ha").cast("long").alias("na"),
            F.size("__hb").cast("long").alias("nb"),
        )
        .filter(F.col("shared") > 0)
    )
    out = est.join(exact, ["doc_a", "doc_b"]).select(
        "doc_a", "doc_b", "est12", "shared", "na", "nb"
    )
    from ..operators.util import materialize_and_release

    return materialize_and_release(out, arr)
