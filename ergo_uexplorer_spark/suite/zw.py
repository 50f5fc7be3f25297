"""Round-8 surface additions (zw1–zw2): CCNet-style integer-exact LM
quality scoring and covariance/whitening sufficient statistics.

Names sort BEFORE zx1 so they enter the driver's recorded 50-name
CORRECTNESS window by displacing only entries that already hold
driver-recorded rows from round 7 (the registry freeze policy — no
renames, additions sort into the window; see PARITY.md).

Exactness rules follow suite/base.py: integer ranks instead of log
probabilities, quantized-integer second moments with HUGEINT/DECIMAL
accumulation rendered as strings on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .base import emb_finite_sql, emb_valid_sql, load, register
from .textops import _TOKS

_GRAM_SCALE = 10**6
_EMB_DIM = 64
# oracle-side mirrors of the engine's entry screens (see base.py)
EMB_VALID = emb_valid_sql(_EMB_DIM)
EMB_FINITE = emb_finite_sql(_EMB_DIM)


# --------------------------------------------------------------------------
# zw1: token-rank surprisal — the CCNet/DataComp LM-quality filter signal
# (docs dominated by rare tokens score high), integer-exact by scoring
# mean global FREQUENCY RANK instead of log-probability. The global rank
# over the vocabulary runs through ordered_prefix (range-partitioned
# row_number + one-row-per-partition boundary correction), never a
# single-task window; the token→rank join is keyed by token, the same
# key as the vocab agg's exchange.
# --------------------------------------------------------------------------
@register(
    "zw1_token_rank_surprisal",
    sql=f"""
    WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
    vocab AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY 1),
    ranked AS (
      SELECT tok, row_number() OVER (ORDER BY cnt DESC, tok) AS rnk
      FROM vocab
    )
    SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_toks,
           CAST(sum(r.rnk) AS BIGINT) AS sum_rank,
           CAST(sum(r.rnk) // count(*) AS BIGINT) AS mean_rank
    FROM toks t JOIN ranked r ON t.tok = r.tok
    GROUP BY 1
    """,
    survey_ref="LLM-pipeline: unigram-LM quality scoring, rank-exact "
    "(textops.token_rank_surprisal)",
    tags=("text", "agg", "curation"),
    bench=True,
)
def zw1_token_rank_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import token_rank_surprisal

    (docs,) = load(spark, sf_dir, "documents")
    return token_rank_surprisal(docs)


# --------------------------------------------------------------------------
# zw2: embedding Gram/covariance sufficient statistics — the whitening /
# PCA / ZCA prep for the ANN stack: upper-triangle Σ qᵢqⱼ + per-dim sums
# over integer-quantized vectors (order-independent, exact). Spark side
# is one numpy matmul per Arrow batch via mapInPandas + a d(d+1)/2-group
# final agg — shuffle volume independent of row count. The oracle pays
# the d² row blow-up instead (fine at suite SFs).
# --------------------------------------------------------------------------
@register(
    "zw2_embedding_gram",
    sql=f"""
    WITH q AS (
      SELECT list_transform(
               embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {_GRAM_SCALE} + 0.5)
                         AS BIGINT)) AS qv
      FROM embeddings
      WHERE {EMB_FINITE}
    ),
    p AS (
      SELECT i.range AS i, j.range AS j
      FROM range({_EMB_DIM}) i, range({_EMB_DIM}) j
      WHERE i.range <= j.range
    )
    SELECT CAST(p.i AS BIGINT) AS i, CAST(p.j AS BIGINT) AS j,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(qv[p.i + 1] * qv[p.j + 1] AS HUGEINT))
                AS VARCHAR) AS gram,
           CAST(sum(qv[p.i + 1]) AS BIGINT) AS sum_i,
           CAST(sum(qv[p.j + 1]) AS BIGINT) AS sum_j
    FROM q, p
    GROUP BY 1, 2
    """,
    survey_ref="LLM-pipeline: covariance/whitening sufficient stats "
    "(similarity.embedding_gram_stats)",
    tags=("similarity", "agg"),
)
def zw2_embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import embedding_gram_stats

    (emb,) = load(spark, sf_dir, "embeddings")
    out = embedding_gram_stats(emb, scale=_GRAM_SCALE, dim=64)
    return out.select(
        F.col("i").cast("long").alias("i"),
        F.col("j").cast("long").alias("j"),
        "n",
        F.col("gram").cast("string").alias("gram"),
        "sum_i",
        "sum_j",
    )


# --------------------------------------------------------------------------
# zw3: character collision-entropy sufficient stats — the Gopher/C4
# "randomness" quality-filter signal (n_chars, distinct chars, Σ cᵢ²;
# Rényi-2 entropy = −log₂(Σcᵢ²/n²) follows exactly from the integers).
# The Spark side is a ZERO-shuffle per-row fold (sorted char array +
# one aggregate-HOF pass inside codegen); the oracle pays the per-char
# unnest + groupBy instead — identical integers.
# --------------------------------------------------------------------------
@register(
    "zw3_char_entropy_stats",
    sql="""
    WITH ch AS (
      SELECT doc_id,
             unnest(list_filter(string_split(text, ''), c -> c <> ''))
               AS c
      FROM documents
    ),
    cnt AS (SELECT doc_id, c, count(*) AS k FROM ch GROUP BY 1, 2)
    SELECT d.doc_id,
           CAST(length(d.text) AS BIGINT) AS n_chars,
           CAST(COALESCE(count(cnt.k), 0) AS BIGINT) AS n_distinct,
           CAST(COALESCE(sum(cnt.k * cnt.k), 0) AS BIGINT) AS sum_sq
    FROM documents d LEFT JOIN cnt ON d.doc_id = cnt.doc_id
    GROUP BY 1, 2
    """,
    survey_ref="LLM-pipeline: quality filtering, char-distribution "
    "randomness signal (textops.char_collision_stats)",
    tags=("text", "curation"),
)
def zw3_char_entropy_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import char_collision_stats

    (docs,) = load(spark, sf_dir, "documents")
    return char_collision_stats(docs)


# --------------------------------------------------------------------------
# zw4: per-dimension int8 scalar quantization of the embedding column —
# the vector-index compression prep (min/max → scale/zero-point) plus
# the EXACT total/max reconstruction error of the code round-trip, all
# on integer-quantized values so floor-division arithmetic is
# engine-identical. Spark side: two posexplode → partial-agg passes
# (d groups collapse map-side before any exchange, stats broadcast
# back) — O(partitions · d) shuffle volume at any corpus size.
# --------------------------------------------------------------------------
_QUANT_LEVELS = 255


@register(
    "zw4_embedding_quantization",
    sql=f"""
    WITH q AS (
      SELECT list_transform(
               embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {_GRAM_SCALE} + 0.5)
                         AS BIGINT)) AS qv
      FROM embeddings
      WHERE {EMB_FINITE}
    ),
    per AS (
      SELECT d.range AS dim, qv[d.range + 1] AS v
      FROM q, range({_EMB_DIM}) d
    ),
    mm AS (
      SELECT dim, min(v) AS min_q, max(v) AS max_q, count(*) AS n
      FROM per GROUP BY 1
    ),
    err AS (
      SELECT per.dim,
             abs(per.v - (mm.min_q
                 + (((per.v - mm.min_q) * {_QUANT_LEVELS}
                     // greatest(mm.max_q - mm.min_q, 1))
                    * greatest(mm.max_q - mm.min_q, 1))
                   // {_QUANT_LEVELS})) AS e
      FROM per JOIN mm USING (dim)
    )
    SELECT mm.dim AS dim, CAST(mm.n AS BIGINT) AS n,
           mm.min_q, mm.max_q,
           CAST(sum(err.e) AS BIGINT) AS sum_abs_err,
           CAST(max(err.e) AS BIGINT) AS max_abs_err
    FROM mm JOIN err USING (dim)
    GROUP BY 1, 2, 3, 4
    """,
    survey_ref="LLM-pipeline: ANN index compression — scalar int8 "
    "quantization stats (similarity.embedding_quant_stats)",
    tags=("similarity", "agg"),
)
def zw4_embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import embedding_quant_stats

    (emb,) = load(spark, sf_dir, "embeddings")
    return embedding_quant_stats(
        emb, dim=_EMB_DIM, scale=_GRAM_SCALE, levels=_QUANT_LEVELS
    )


# --------------------------------------------------------------------------
# zw5: retrieval ranking-quality evaluation (the offline eval loop of a
# RAG/retrieval stack) — per single-term query, exact BM25-odds top-50
# scored against a relevance label (lang = 'en'): hits, first-relevant
# rank (the MRR numerator, NULL when none), precision@10 numerator. All
# integers; MRR/P@N follow driver-side. Ranks go through ordered_prefix
# on the Spark side, never a single-task window.
# --------------------------------------------------------------------------
_EVAL_TERMS = ("vector", "hash", "spark")
_EVAL_K = 50
_EVAL_P = 10
_EVAL_SCALE = 10**6


@register(
    "zw5_retrieval_eval",
    sql=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    base AS (SELECT doc_id, t, len(t) AS dl FROM toks),
    stats AS (SELECT count(*) AS n, sum(dl) AS l FROM base),
    terms AS (SELECT doc_id, dl, unnest(t) AS term FROM base),
    tf AS (
      SELECT doc_id, dl, term, count(*) AS tf FROM terms
      WHERE term IN {tuple(_EVAL_TERMS)} GROUP BY 1, 2, 3
    ),
    dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    sc AS (
      SELECT tf.term, tf.doc_id,
             (CAST(2 * (s.n - dfq.df) + 1 AS HUGEINT) * {_EVAL_SCALE}
              // (2 * dfq.df + 1))
             * (CAST({_EVAL_SCALE} AS HUGEINT) * 22 * tf.tf * s.l
                // (CAST(10 AS HUGEINT) * tf.tf * s.l
                    + CAST(3 AS HUGEINT) * s.l
                    + CAST(9 AS HUGEINT) * tf.dl * s.n)) AS score
      FROM tf JOIN dfq USING (term) CROSS JOIN stats s
    ),
    ranked AS (
      SELECT term, doc_id,
             row_number() OVER (PARTITION BY term
                                ORDER BY score DESC, doc_id) AS rnk
      FROM sc
    ),
    top AS (SELECT * FROM ranked WHERE rnk <= {_EVAL_K})
    SELECT top.term AS query,
           CAST(count(*) AS BIGINT) AS n_topk,
           CAST(sum(CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_rel,
           CAST(min(CASE WHEN d.lang = 'en' THEN rnk END) AS BIGINT)
             AS first_rel_rank,
           CAST(sum(CASE WHEN d.lang = 'en' AND rnk <= {_EVAL_P}
                         THEN 1 ELSE 0 END) AS BIGINT) AS rel_at_p
    FROM top JOIN documents d USING (doc_id)
    GROUP BY 1
    """,
    survey_ref="LLM-pipeline: retrieval eval (MRR/P@N numerators, "
    "integer-exact; retrieval.retrieval_eval)",
    tags=("text", "retrieval", "eval"),
)
def zw5_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.retrieval import retrieval_eval

    (docs,) = load(spark, sf_dir, "documents")
    relevance = docs.select(
        "doc_id", (F.col("lang") == "en").alias("is_rel")
    )
    out = retrieval_eval(
        docs,
        {t: [t] for t in _EVAL_TERMS},
        relevance,
        k=_EVAL_K,
        p_cut=_EVAL_P,
        scale=_EVAL_SCALE,
    )
    return out.select(
        "query",
        "n_topk",
        "n_rel",
        F.col("first_rel_rank").cast("long").alias("first_rel_rank"),
        "rel_at_p",
    )


# --------------------------------------------------------------------------
# zw6: hard-negative mining — for each query vector, the top-k most
# similar corpus vectors with a DIFFERENT label (the highest-loss
# negatives a contrastive trainer batches). Brute-force scored here
# (query side broadcast, label filter BEFORE the per-query rank); at
# corpus scale the same filter composes with the IVF probe path.
# --------------------------------------------------------------------------
_HN_QUERIES = 5
_HN_K = 10


def _hard_neg_sql() -> str:
    from ..operators import similarity as S
    from .similarity import _sql_cos

    return f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS qv, label AS ql
               FROM embeddings WHERE vec_id < {_HN_QUERIES}
                 AND {EMB_VALID}),
    c AS (SELECT vec_id AS n_id, embedding AS nv, label AS nl
          FROM embeddings WHERE {EMB_VALID}),
    scored AS (
      SELECT q_id, n_id, {_sql_cos('qv', 'nv')} AS cos
      FROM q CROSS JOIN c WHERE ql <> nl
    ),
    ranked AS (
      SELECT q_id, n_id, cos,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY cos DESC, n_id ASC) AS rn
      FROM scored
    )
    SELECT q_id, n_id, round(cos, 3) AS cos_sim
    FROM ranked WHERE rn <= {_HN_K}
    """


@register(
    "zw6_hard_negatives",
    sql=_hard_neg_sql(),
    survey_ref="LLM-pipeline: contrastive-training hard-negative "
    "mining (similarity.hard_negatives)",
    tags=("similarity", "topk"),
)
def zw6_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import hard_negatives

    (emb,) = load(spark, sf_dir, "embeddings")
    out = hard_negatives(
        emb, emb.filter(F.col("vec_id") < _HN_QUERIES), k=_HN_K
    )
    return out.select(
        "q_id", "n_id", F.round("cos_sim", 3).alias("cos_sim")
    )


# --------------------------------------------------------------------------
# zw7: IVF cell-balance diagnostics — per-cell membership counts and the
# exact quantized-norm mass of each cell (the index-health signal that
# decides when to retrain the coarse quantizer: skewed cells ruin probe
# latency). Cell assignment replays the seeded FIXED_CENTROIDS argmax
# in both engines; per-row ‖qv‖² fits int64 (64 · (2·10⁶)² ≈ 2.6·10¹⁴),
# the per-cell sum accumulates in DECIMAL(38,0)/HUGEINT.
# --------------------------------------------------------------------------
def _cell_balance_sql() -> str:
    EMB_SCREEN = EMB_FINITE  # integer-exact qnorm: non-finite quarantined
    from .similarity import _ivf_sql  # noqa: F401 — shares the seeded form
    from ..operators import similarity as S
    from .similarity import _sql_cos

    values = ",\n      ".join(
        "({}, [{}]::DOUBLE[])".format(ci, ", ".join(repr(v) for v in cent))
        for ci, cent in enumerate(S.FIXED_CENTROIDS)
    )
    return f"""
    WITH cents(cell, cv) AS (VALUES
      {values}),
    e AS (SELECT vec_id, embedding AS v FROM embeddings WHERE {EMB_SCREEN}),
    ranked_cells AS (
      SELECT vec_id, v, cell,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY {_sql_cos('v', 'cv')} DESC,
                                         cell ASC) AS rn
      FROM e CROSS JOIN cents
    ),
    members AS (
      SELECT cell,
             list_sum(list_transform(
               v, x -> CAST(floor(CAST(x AS DOUBLE) * {_GRAM_SCALE} + 0.5)
                            AS BIGINT)
                       * CAST(floor(CAST(x AS DOUBLE) * {_GRAM_SCALE} + 0.5)
                              AS BIGINT))) AS qnorm
      FROM ranked_cells WHERE rn = 1
    )
    SELECT CAST(cell AS BIGINT) AS cell,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(CAST(qnorm AS HUGEINT)) AS VARCHAR) AS sum_qnorm
    FROM members GROUP BY 1
    """


@register(
    "zw7_ivf_cell_balance",
    sql=_cell_balance_sql(),
    survey_ref="LLM-pipeline: ANN index health — IVF cell balance "
    "(similarity.ivf_assign + exact norm mass)",
    tags=("similarity", "agg"),
)
def zw7_ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity as S

    (emb,) = load(spark, sf_dir, "embeddings")
    # integer-exact qnorm: non-finite elements must be quarantined, not
    # crash the floor+cast (valid_embeddings finite screen — the same
    # posture as gram/quant/centroid stats)
    emb = S.valid_embeddings(emb, dim=S.EMB_DIM, finite=True)
    assigned = S.ivf_assign(emb, list(S.FIXED_CENTROIDS))
    qv = F.transform(
        F.col("embedding"),
        lambda x: F.floor(
            x.cast("double") * _GRAM_SCALE + F.lit(0.5)
        ).cast("long"),
    )
    qnorm = F.aggregate(
        qv,
        F.lit(0).cast("long"),
        lambda acc, q: acc + q * q,
    )
    return (
        assigned.select(
            F.col("centroid_id").cast("long").alias("cell"),
            qnorm.alias("qnorm"),
        )
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum(F.col("qnorm").cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .cast("string")
            .alias("sum_qnorm"),
        )
    )


# --------------------------------------------------------------------------
# zw8: ANN recall@k evaluation — the quality loop of the ANN stack: per
# query, how many of the EXACT cosine top-k the IVF probe path returned
# (recall numerator, all integers). Exact side = brute-force ranking;
# approximate side = the same seeded IVF index s03 searches.
# --------------------------------------------------------------------------
_RECALL_K = 5


def _ann_recall_sql() -> str:
    EMB_SCREEN = EMB_VALID  # scoring family: NaN flows, engines agree
    from ..operators import similarity as S
    from .similarity import _IVF_PROBES, _N_QUERIES, _sql_cos

    values = ",\n      ".join(
        "({}, [{}]::DOUBLE[])".format(ci, ", ".join(repr(v) for v in cent))
        for ci, cent in enumerate(S.FIXED_CENTROIDS)
    )
    return f"""
    WITH cents(cell, cv) AS (VALUES
      {values}),
    e AS (SELECT vec_id, embedding AS v FROM embeddings WHERE {EMB_SCREEN}),
    exact_scored AS (
      SELECT q.vec_id AS q_id, c.vec_id AS n_id,
             {_sql_cos('q.v', 'c.v')} AS cos
      FROM e q CROSS JOIN e c
      WHERE q.vec_id < {_N_QUERIES} AND q.vec_id <> c.vec_id
    ),
    exact_top AS (
      SELECT q_id, n_id FROM (
        SELECT q_id, n_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cos DESC, n_id ASC) AS rn
        FROM exact_scored
      ) WHERE rn <= {_RECALL_K}
    ),
    ranked_cells AS (
      SELECT vec_id, v, cell,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY {_sql_cos('v', 'cv')} DESC,
                                         cell ASC) AS rn
      FROM e CROSS JOIN cents
    ),
    corpus AS (SELECT vec_id AS n_id, v AS nv, cell
               FROM ranked_cells WHERE rn = 1),
    probes AS (SELECT vec_id AS q_id, v AS qv, cell
               FROM ranked_cells
               WHERE rn <= {_IVF_PROBES} AND vec_id < {_N_QUERIES}),
    ivf_scored AS (
      SELECT q_id, n_id, {_sql_cos('qv', 'nv')} AS cos
      FROM probes JOIN corpus USING (cell) WHERE q_id <> n_id
    ),
    ivf_top AS (
      SELECT q_id, n_id FROM (
        SELECT q_id, n_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cos DESC, n_id ASC) AS rn
        FROM ivf_scored
      ) WHERE rn <= {_RECALL_K}
    )
    SELECT b.q_id,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(sum(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit
    FROM exact_top b LEFT JOIN ivf_top a USING (q_id, n_id)
    GROUP BY 1
    """


@register(
    "zw8_ann_recall",
    sql=_ann_recall_sql(),
    survey_ref="LLM-pipeline: ANN recall@k eval (brute-force truth vs "
    "the s03 IVF probe path)",
    tags=("similarity", "eval"),
)
def zw8_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity as S
    from .similarity import _IVF_PROBES, _N_QUERIES, _built_index

    (emb,) = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    exact = S.brute_force_topk(emb, queries, k=_RECALL_K).select(
        "q_id", "n_id"
    )
    idx = _built_index(
        spark, sf_dir, "ivf",
        lambda: S.ivf_index(emb, list(S.FIXED_CENTROIDS)),
    )
    approx = S.ivf_topk(
        emb,
        queries,
        list(S.FIXED_CENTROIDS),
        k=_RECALL_K,
        n_probes=_IVF_PROBES,
        corpus=idx,
    ).select("q_id", "n_id", F.lit(1).alias("hit"))
    return (
        exact.join(approx, ["q_id", "n_id"], "left")
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_hit"),
        )
    )


# --------------------------------------------------------------------------
# zw9: quality-canonical near-dup representatives — keep the member
# with the MOST tokens per cluster (ties → smallest id), the
# keep-the-most-complete-copy policy a corpus cleaner actually applies
# (d06's min-id canonical is arbitrary under truncated scrapes). The
# oracle replays the recursive connected components over the same
# hashed-Jaccard pair SQL as zz_z31, then ranks members per component.
# --------------------------------------------------------------------------
def _keep_best_sql() -> str:
    from .dedup import _HASHED_JACCARD_SQL, _TOKS as _DTOKS

    return f"""
    WITH RECURSIVE pairs AS ({_HASHED_JACCARD_SQL}),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT u AS id FROM edges),
    reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT reach.id, e.v FROM reach JOIN edges e ON reach.r = e.u
    ),
    comp AS (SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id),
    q AS (SELECT doc_id, CAST(len({_DTOKS}) AS BIGINT) AS q
          FROM documents),
    ranked AS (
      SELECT comp.doc_id, component, q.q,
             row_number() OVER (PARTITION BY component
                                ORDER BY q.q DESC, comp.doc_id ASC) AS rn
      FROM comp JOIN q USING (doc_id)
    )
    SELECT component,
           max(CASE WHEN rn = 1 THEN doc_id END) AS keep_id,
           max(CASE WHEN rn = 1 THEN q END) AS keep_tokens,
           count(*) AS n_members
    FROM ranked GROUP BY component
    """


@register(
    "zw9_dedup_keep_best",
    sql=_keep_best_sql(),
    survey_ref="LLM-pipeline: quality-canonical dedup representative "
    "(dedup.dedup_keep_best; complements zz_d06's min-id canonical)",
    tags=("dedup", "graph", "curation"),
)
def zw9_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup as D

    (docs,) = load(spark, sf_dir, "documents")
    return D.dedup_keep_best(docs, num=4, den=5)


# --------------------------------------------------------------------------
# zwa: one k-means (Lloyd) update step over the fixed 128-cell coarse
# quantizer — nearest-centroid assignment (the s03/z23 argmax, identical
# tiebreak) then per-cell centroid SUFFICIENT STATISTICS as exact
# floor-scaled integer sums: cell[dim] = sx / (n·scale). This is the IVF
# index-maintenance primitive (retrain cells as the corpus drifts); the
# integer numerators make the iterative step oracle-checkable the same
# way zyg2 made the class prototypes checkable.
# --------------------------------------------------------------------------
_KMEANS_SCALE = 10**6


def _kmeans_update_sql() -> str:
    EMB_SCREEN = EMB_FINITE  # integer-exact sufficient stats
    from ..operators import similarity as S
    from .similarity import _sql_cos

    values = ",\n      ".join(
        "({}, [{}]::DOUBLE[])".format(ci, ", ".join(repr(v) for v in cent))
        for ci, cent in enumerate(S.FIXED_CENTROIDS)
    )
    return f"""
    WITH cents(cell, cv) AS (VALUES
      {values}),
    e AS (SELECT vec_id, embedding AS v FROM embeddings WHERE {EMB_SCREEN}),
    ranked AS (
      SELECT vec_id, v, cell,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY {_sql_cos('v', 'cv')} DESC,
                                         cell ASC) AS rn
      FROM e CROSS JOIN cents
    ),
    asg AS (SELECT vec_id, v, cell FROM ranked WHERE rn = 1)
    SELECT CAST(cell AS BIGINT) AS cell, dim, count(*) AS n,
           CAST(sum(CAST(floor(CAST(e AS DOUBLE) * {_KMEANS_SCALE})
                         AS HUGEINT)) AS VARCHAR) AS sx
    FROM (
      SELECT cell, unnest(v) AS e,
             unnest(range(0, len(v))) AS dim
      FROM asg
    )
    GROUP BY 1, 2
    """


@register(
    "zwa_kmeans_update",
    sql=_kmeans_update_sql(),
    survey_ref="s03/z23 family support: one Lloyd step as exact integer "
    "sufficient stats (similarity.ivf_assign + embedding_centroid_stats)",
    tags=("similarity", "agg"),
)
def zwa_kmeans_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity as S

    (emb,) = load(spark, sf_dir, "embeddings")
    asg = S.ivf_assign(emb, list(S.FIXED_CENTROIDS))
    out = S.embedding_centroid_stats(
        asg, label_col="centroid_id", scale=_KMEANS_SCALE
    )
    return out.select(
        F.col("label").cast("long").alias("cell"),
        F.col("dim").cast("long").alias("dim"),
        "n",
        F.col("sx").cast("string").alias("sx"),
    )


# --------------------------------------------------------------------------
# zwb: local-supplier volume (TPC-H Q5 shape) — the 6-table star join
# the suite's relational surface lacked: customer⋈orders⋈lineitem on
# the fact spine, supplier joined on BOTH l_suppkey AND the
# local-supplier condition c_nationkey = s_nationkey, nation/region as
# broadcast dims. Exercises Catalyst join reordering + dim broadcast at
# the plan level; revenue is exact cents (b01 rounding convention).
# --------------------------------------------------------------------------
@register(
    "zwb_local_supplier_volume",
    sql="""
    SELECT n_name,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS revenue_cents,
           count(*) AS n_lines
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
    survey_ref="generic join surface (SURVEY §2.6): 6-table star join, "
    "local-supplier correlation",
    tags=("join", "agg"),
    bench=True,
)
def zwb_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders, lineitem, supplier, nation, region = load(
        spark, sf_dir,
        "customer", "orders", "lineitem", "supplier", "nation", "region",
    )
    dims = (
        F.broadcast(nation)
        .join(
            F.broadcast(region.filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    sup = F.broadcast(
        supplier.join(dims, F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("bigint")
    return (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(customer),
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.sum(cents).alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# --------------------------------------------------------------------------
# zwc: small-quantity revenue (TPC-H Q17 shape) — the decorrelated
# scalar-subquery pattern: lineitems whose quantity is below 20% of
# their part's average, for one brand. The fractional-average predicate
# is cross-multiplied into exact integers (qty < 0.2·avg ⇔
# 5·qty·cnt < sum), so the filter is engine-identical; the per-part
# aggregate joins back on the SAME key its groupBy shuffled on
# (co-partitioned, no extra exchange), with the brand dim broadcast
# into both sides.
# --------------------------------------------------------------------------
@register(
    "zwc_small_quantity_revenue",
    sql="""
    WITH bparts AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#13'),
    li AS (
      SELECT l_partkey, CAST(round(l_quantity) AS BIGINT) AS qty,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem JOIN bparts ON l_partkey = p_partkey
    ),
    avgq AS (SELECT l_partkey, count(*) AS c,
                    CAST(sum(qty) AS BIGINT) AS s
             FROM li GROUP BY 1)
    SELECT CAST(coalesce(sum(cents), 0) AS BIGINT) AS revenue_cents,
           count(*) AS n_lines
    FROM li JOIN avgq USING (l_partkey)
    WHERE 5 * qty * c < s
    """,
    survey_ref="generic join surface (SURVEY §2.6): decorrelated "
    "per-group-average predicate (Q17 shape)",
    tags=("join", "agg"),
)
def zwc_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, part = load(spark, sf_dir, "lineitem", "part")
    bparts = F.broadcast(
        part.filter(F.col("p_brand") == "Brand#13").select("p_partkey")
    )
    # the casts must be TOTAL even though the brand join drops every
    # dirty row: Catalyst pushes this projection below the join (it
    # references only lineitem columns), so under ANSI an unguarded
    # round+cast evaluates on EVERY scanned row and one NaN price
    # kills the job before the join can filter it (dirty-twin sweep
    # finding — the optimizer makes "it's filtered later" unsound)
    def _safe_long(c):
        # non-FINITE, not just non-NaN: round(Inf).cast(bigint) throws
        # CAST_OVERFLOW under ANSI exactly like NaN does (r10 ADVICE —
        # the original guard only covered half the failure)
        return F.when(
            ~F.isnan(c) & (F.abs(c) != F.lit(float("inf"))),
            F.round(c).cast("bigint"),
        )

    li = lineitem.join(
        bparts, F.col("l_partkey") == F.col("p_partkey")
    ).select(
        "l_partkey",
        _safe_long(F.col("l_quantity")).alias("qty"),
        _safe_long(F.col("l_extendedprice") * 100).alias("cents"),
    )
    avgq = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("c"), F.sum("qty").alias("s")
    )
    return (
        li.join(avgq, "l_partkey")
        .filter(F.lit(5) * F.col("qty") * F.col("c") < F.col("s"))
        .agg(
            F.coalesce(F.sum("cents"), F.lit(0))
            .cast("bigint")
            .alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# --------------------------------------------------------------------------
# zwd: the Q8 anti-join shape with a predicate that YIELDS ROWS at the
# driver SFs — zz_q08's unrestricted form is vacuously empty there
# (every customer has at least one order), so its green driver row
# proved only schema. Same left_anti plan (BoxService.scala:132-138
# "spent = Box ∖ Utxo"), the anti side narrowed to recent orders:
# customers with NO order since 2000-01-01 (135 rows at sf0.01, 14 at
# sf0.001). The filter pushes into the orders scan before the anti-join.
# --------------------------------------------------------------------------
@register(
    "zwd_dormant_customer_anti_join",
    # NOT EXISTS mirrors left_anti's null-key semantics (see zz_q08) —
    # the dirty-twin sweep caught the NOT IN form dropping the null-key
    # customer row the anti-join keeps
    sql="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey
        AND o.o_orderdate >= TIMESTAMP '2000-01-01'
    )
    """,
    survey_ref="Q8 BoxService.scala:132-138 (non-vacuous driver variant)",
    tags=("anti-join",),
)
def zwd_dormant_customer_anti_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    customer, orders = load(spark, sf_dir, "customer", "orders")
    recent = orders.filter(
        F.col("o_orderdate") >= F.to_timestamp(F.lit("2000-01-01"))
    )
    return customer.join(
        recent, customer.c_custkey == recent.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


# --------------------------------------------------------------------------
# zwh: wedge-join sizing histogram — the observability row a 100 TB
# link-prediction run (zya8's shape) is sized from, and the exact input
# the auto hub guard reads to decide whether the right-degree
# distribution has supernode outliers. One row per distinct right
# degree: how many right nodes hold it and the rd² wedge-join rows they
# will emit (Σ wedges IS the join's cost). The zwe dedup-funnel
# counterpart for the graph family.
# --------------------------------------------------------------------------
@register(
    "zwh_wedge_histogram",
    sql="""
    WITH e AS (
      SELECT DISTINCT o_custkey AS l, l_partkey AS r
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    d AS (SELECT r, count(*) AS rd FROM e GROUP BY 1)
    SELECT CAST(rd AS BIGINT) AS rd,
           CAST(count(*) AS BIGINT) AS n_rights,
           CAST(rd * rd * count(*) AS BIGINT) AS wedges
    FROM d GROUP BY rd
    """,
    survey_ref="Q19 family observability: wedge-volume sizing for the "
    "common-neighbor join (graph.right_degree_histogram; hot-key "
    "posture of SuperNodeMvMap.scala:18)",
    tags=("graph", "agg", "observability"),
)
def zwh_wedge_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import right_degree_histogram

    lineitem, orders = load(spark, sf_dir, "lineitem", "orders")
    edges = lineitem.join(
        orders.select("o_orderkey", "o_custkey"),
        lineitem.l_orderkey == orders.o_orderkey,
    )
    return right_degree_histogram(edges, "o_custkey", "l_partkey")


# --------------------------------------------------------------------------
# zwi/zwj/zwk: QUARANTINE twins of the strict-money aggregates (r10
# VERDICT #6). The strict entries REFUSE non-finite money two-sidedly
# (ANSI CAST_OVERFLOW / DuckDB ConversionException — 35 agreed refusals
# in the dirty sweep); these twins are the keep-going alternative a
# pipeline consumer wants on a corrupted source: accepted rows
# aggregate EXACTLY as the strict entry would, refused rows are
# excluded and counted by reason ('nan' / 'inf'). Plain NULLs are
# ordinary missing data — null-skipped by the aggregates on both
# engines, never quarantined. functions/money.py holds the shared reason
# predicate and its DuckDB mirror.
# --------------------------------------------------------------------------
from ..functions.money import accepted_cents, money_reason, money_reason_sql

# the `scaled=` expressions are EXACTLY the ones the twins' casts
# consume — the reason label must be computed from the same IEEE-754
# chain the cast sees, or a finite 1e307 that scales to +Inf under
# ×100 desynchronizes the engines at the cast (r11 ADVICE; the
# finite-overflow dirty row pins this)
_ZWI_REASON = money_reason_sql(
    "l_extendedprice",
    "l_discount",
    scaled=("l_extendedprice * (1 - l_discount) * 100",),
)
_ZWJ_REASON = money_reason_sql(
    "l_quantity",
    "l_extendedprice",
    scaled=("l_quantity", "l_extendedprice * 100"),
)
_ZWK_REASON = money_reason_sql(
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    scaled=(
        "l_quantity",
        "l_extendedprice * 100",
        "l_extendedprice * (1 - l_discount) * 100",
    ),
)


@register(
    "zwi_local_supplier_volume_quarantine",
    sql=f"""
    WITH li0 AS (SELECT *, {_ZWI_REASON} AS reason FROM lineitem),
    q AS (SELECT count(*) FILTER (WHERE reason = 'nan') AS n_nan,
                 count(*) FILTER (WHERE reason = 'inf') AS n_inf,
                 count(*) FILTER (WHERE reason = 'overflow') AS n_ovf
          FROM li0)
    SELECT n_name,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS revenue_cents,
           count(*) AS n_lines, n_nan, n_inf, n_ovf
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN li0 ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    CROSS JOIN q
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND reason IS NULL
    GROUP BY n_name, n_nan, n_inf, n_ovf
    """,
    survey_ref="zwb quarantine twin (r10 VERDICT #6): keep-going "
    "6-table star join; source-screened lineitem, reasons counted",
    tags=("join", "agg", "quarantine"),
)
def zwi_local_supplier_volume_quarantine(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    customer, orders, lineitem, supplier, nation, region = load(
        spark, sf_dir,
        "customer", "orders", "lineitem", "supplier", "nation", "region",
    )
    li0 = lineitem.withColumn(
        "__reason",
        money_reason(
            F.col("l_extendedprice"),
            F.col("l_discount"),
            scaled=(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100,
            ),
        ),
    )
    # the reasons frame is computed over the WHOLE input table (a
    # source screen), not over post-join survivors — quarantine counts
    # must not depend on how selective the query happens to be
    quar = li0.agg(
        F.count(F.when(F.col("__reason") == "nan", 1)).alias("n_nan"),
        F.count(F.when(F.col("__reason") == "inf", 1)).alias("n_inf"),
        F.count(F.when(F.col("__reason") == "overflow", 1)).alias("n_ovf"),
    )
    accepted = li0.filter(F.col("__reason").isNull())
    dims = (
        F.broadcast(nation)
        .join(
            F.broadcast(region.filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    sup = F.broadcast(
        supplier.join(dims, F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    cents = accepted_cents(
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
    )
    return (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(accepted, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(customer),
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.sum(cents).alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .crossJoin(F.broadcast(quar))
    )


@register(
    "zwj_small_quantity_revenue_quarantine",
    sql=f"""
    WITH li0 AS (SELECT *, {_ZWJ_REASON} AS reason FROM lineitem),
    bparts AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#13'),
    li AS (
      SELECT l_partkey, CAST(round(l_quantity) AS BIGINT) AS qty,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      FROM li0 JOIN bparts ON l_partkey = p_partkey
      WHERE reason IS NULL
    ),
    avgq AS (SELECT l_partkey, count(*) AS c,
                    CAST(sum(qty) AS BIGINT) AS s
             FROM li GROUP BY 1)
    SELECT CAST(coalesce(sum(cents), 0) AS BIGINT) AS revenue_cents,
           count(*) AS n_lines,
           (SELECT count(*) FROM li0 WHERE reason = 'nan') AS n_nan,
           (SELECT count(*) FROM li0 WHERE reason = 'inf') AS n_inf,
           (SELECT count(*) FROM li0 WHERE reason = 'overflow') AS n_ovf
    FROM li JOIN avgq USING (l_partkey)
    WHERE 5 * qty * c < s
    """,
    survey_ref="zwc quarantine twin (r10 VERDICT #6): keep-going "
    "decorrelated per-group-average predicate",
    tags=("join", "agg", "quarantine"),
)
def zwj_small_quantity_revenue_quarantine(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    lineitem, part = load(spark, sf_dir, "lineitem", "part")
    li0 = lineitem.withColumn(
        "__reason",
        money_reason(
            F.col("l_quantity"),
            F.col("l_extendedprice"),
            scaled=(F.col("l_quantity"), F.col("l_extendedprice") * 100),
        ),
    )
    quar = li0.agg(
        F.count(F.when(F.col("__reason") == "nan", 1)).alias("n_nan"),
        F.count(F.when(F.col("__reason") == "inf", 1)).alias("n_inf"),
        F.count(F.when(F.col("__reason") == "overflow", 1)).alias("n_ovf"),
    )
    accepted = li0.filter(F.col("__reason").isNull())
    bparts = F.broadcast(
        part.filter(F.col("p_brand") == "Brand#13").select("p_partkey")
    )
    li = accepted.join(
        bparts, F.col("l_partkey") == F.col("p_partkey")
    ).select(
        "l_partkey",
        accepted_cents(F.col("l_quantity"), scale=1).alias("qty"),
        accepted_cents(F.col("l_extendedprice")).alias("cents"),
    )
    avgq = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("c"), F.sum("qty").alias("s")
    )
    return (
        li.join(avgq, "l_partkey")
        .filter(F.lit(5) * F.col("qty") * F.col("c") < F.col("s"))
        .agg(
            F.coalesce(F.sum("cents"), F.lit(0))
            .cast("bigint")
            .alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .crossJoin(F.broadcast(quar))
    )


@register(
    "zwk_pricing_summary_quarantine",
    sql=f"""
    WITH li0 AS (SELECT *, {_ZWK_REASON} AS reason FROM lineitem)
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CASE WHEN reason IS NULL
                         THEN CAST(round(l_quantity) AS BIGINT) END)
                AS BIGINT) AS sum_qty,
           CAST(sum(CASE WHEN reason IS NULL
                         THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                    END) AS BIGINT) AS sum_base_cents,
           CAST(sum(CASE WHEN reason IS NULL
                         THEN CAST(round(l_extendedprice * (1 - l_discount)
                                         * 100) AS BIGINT)
                    END) AS BIGINT) AS sum_disc_cents,
           count(*) FILTER (WHERE reason IS NULL) AS count_order,
           count(*) FILTER (WHERE reason = 'nan') AS n_nan,
           count(*) FILTER (WHERE reason = 'inf') AS n_inf,
           count(*) FILTER (WHERE reason = 'overflow') AS n_ovf
    FROM li0
    GROUP BY l_returnflag, l_linestatus
    """,
    survey_ref="zz_b01 quarantine twin (r10 VERDICT #6): keep-going "
    "pricing summary with PER-GROUP reason counts (quarantined rows "
    "keep their group keys here, so reasons localize). No date filter: "
    "the twin screens the whole input table",
    tags=("agg", "quarantine"),
)
def zwk_pricing_summary_quarantine(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    (lineitem,) = load(spark, sf_dir, "lineitem")
    reason = money_reason(
        F.col("l_quantity"),
        F.col("l_extendedprice"),
        F.col("l_discount"),
        scaled=(
            F.col("l_quantity"),
            F.col("l_extendedprice") * 100,
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100,
        ),
    )
    ok = F.col("__reason").isNull()
    return (
        lineitem.withColumn("__reason", reason)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(
                F.when(ok, accepted_cents(F.col("l_quantity"), scale=1))
            ).alias("sum_qty"),
            F.sum(
                F.when(ok, accepted_cents(F.col("l_extendedprice")))
            ).alias("sum_base_cents"),
            F.sum(
                F.when(
                    ok,
                    accepted_cents(
                        F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    ),
                )
            ).alias("sum_disc_cents"),
            F.count(F.when(ok, 1)).alias("count_order"),
            F.count(F.when(F.col("__reason") == "nan", 1)).alias("n_nan"),
            F.count(F.when(F.col("__reason") == "inf", 1)).alias("n_inf"),
            F.count(F.when(F.col("__reason") == "overflow", 1)).alias(
                "n_ovf"
            ),
        )
    )


_ZWL_REASON = money_reason_sql("l_quantity", scaled=("l_quantity",))
_ZWM_REASON = money_reason_sql(
    "l_extendedprice",
    "l_discount",
    scaled=("l_extendedprice * (1 - l_discount) * 100",),
)


@register(
    "zwl_rollup_summary_quarantine",
    sql=f"""
    WITH li0 AS (SELECT *, {_ZWL_REASON} AS reason FROM lineitem)
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CASE WHEN reason IS NULL
                         THEN CAST(round(l_quantity) AS BIGINT) END)
                AS BIGINT) AS sum_qty,
           count(*) FILTER (WHERE reason IS NULL) AS n,
           count(*) FILTER (WHERE reason = 'nan') AS n_nan,
           count(*) FILTER (WHERE reason = 'inf') AS n_inf,
           count(*) FILTER (WHERE reason = 'overflow') AS n_ovf
    FROM li0
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
    survey_ref="zz_b02 quarantine twin (r11 VERDICT #5): keep-going "
    "ROLLUP grouping sets — quarantined rows keep their group keys, so "
    "reason counts localize per group AND aggregate up the rollup "
    "levels exactly like the accepted sums",
    tags=("agg", "rollup", "quarantine"),
)
def zwl_rollup_summary_quarantine(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    (lineitem,) = load(spark, sf_dir, "lineitem")
    reason = money_reason(
        F.col("l_quantity"), scaled=(F.col("l_quantity"),)
    )
    ok = F.col("__reason").isNull()
    return (
        lineitem.withColumn("__reason", reason)
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum(
                F.when(ok, accepted_cents(F.col("l_quantity"), scale=1))
            ).alias("sum_qty"),
            F.count(F.when(ok, 1)).alias("n"),
            F.count(F.when(F.col("__reason") == "nan", 1)).alias("n_nan"),
            F.count(F.when(F.col("__reason") == "inf", 1)).alias("n_inf"),
            F.count(F.when(F.col("__reason") == "overflow", 1)).alias(
                "n_ovf"
            ),
        )
    )


@register(
    "zwm_regional_volume_quarantine",
    sql=f"""
    WITH li0 AS (SELECT *, {_ZWM_REASON} AS reason FROM lineitem),
    q AS (SELECT count(*) FILTER (WHERE reason = 'nan') AS n_nan,
                 count(*) FILTER (WHERE reason = 'inf') AS n_inf,
                 count(*) FILTER (WHERE reason = 'overflow') AS n_ovf
          FROM li0)
    SELECT n_name,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS revenue_cents,
           count(*) AS n_items, n_nan, n_inf, n_ovf
    FROM region
    JOIN nation ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders ON o_custkey = c_custkey
    JOIN li0 ON l_orderkey = o_orderkey
    JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
    CROSS JOIN q
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND reason IS NULL
    GROUP BY n_name, n_nan, n_inf, n_ovf
    """,
    survey_ref="zz_z13 quarantine twin (r11 VERDICT #5): keep-going "
    "TPC-H Q5 snowflake join; source-screened lineitem, reasons "
    "counted over the WHOLE source (not post-join survivors)",
    tags=("join", "agg", "quarantine"),
)
def zwm_regional_volume_quarantine(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    region, nation, customer, supplier, orders, lineitem = load(
        spark, sf_dir,
        "region", "nation", "customer", "supplier", "orders", "lineitem",
    )
    li0 = lineitem.withColumn(
        "__reason",
        money_reason(
            F.col("l_extendedprice"),
            F.col("l_discount"),
            scaled=(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100,
            ),
        ),
    )
    quar = li0.agg(
        F.count(F.when(F.col("__reason") == "nan", 1)).alias("n_nan"),
        F.count(F.when(F.col("__reason") == "inf", 1)).alias("n_inf"),
        F.count(F.when(F.col("__reason") == "overflow", 1)).alias("n_ovf"),
    )
    accepted = li0.filter(F.col("__reason").isNull())
    lo = F.lit("1997-01-01").cast("timestamp")
    hi = F.lit("1998-01-01").cast("timestamp")
    asia_nations = (
        region.filter(F.col("r_name") == "ASIA")
        .join(nation, F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    cust = F.broadcast(
        customer.join(
            F.broadcast(asia_nations),
            F.col("c_nationkey") == F.col("n_nationkey"),
        ).select("c_custkey", "c_nationkey", "n_name")
    )
    supp = F.broadcast(supplier.select("s_suppkey", "s_nationkey"))
    cents = accepted_cents(
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
    )
    return (
        orders.filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(accepted, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            supp,
            (F.col("s_suppkey") == F.col("l_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.sum(cents).alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .crossJoin(F.broadcast(quar))
    )
