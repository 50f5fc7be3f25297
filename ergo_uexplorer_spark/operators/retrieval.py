"""Sparse retrieval operators for a training-data / RAG pipeline:
BM25 scoring with distributed top-k, and reciprocal-rank fusion of
independent rankings.

The reference engine has no text-retrieval surface (its closest shape is
the token/asset top-K report, SURVEY §2.4 Q14/Q15); these are the
LLM-pipeline extensions SURVEY §2.6 sanctions. Design rules shared with
the rest of the repo:

* JVM-side `pyspark.sql.functions` only — tokenization, tf, and the
  score arithmetic all stay inside whole-stage codegen.
* Exact-integer contract for oracle checkability: the default scoring
  path replaces BM25's `ln((N-df+0.5)/(df+0.5))` idf with the exact
  integer-scaled ODDS `((2(N-df)+1)·S) div (2df+1)` — the log is
  monotone in the odds, so each TERM's document ranking is preserved;
  the combined multi-term score is the documented "BM25-odds" variant,
  bit-identical in any engine with integer division. `exact=False`
  switches to the classical float-log formula for production ranking.
* The term-frequency saturation `tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl))`
  is exactly rational for rational k1, b: with k1=6/5, b=3/4 and
  avgdl=L/N it equals `22·tf·L / (10·tf·L + 3·L + 9·dl·N)` — computed
  as a floor-scaled integer in DECIMAL(38,0) so corpus sizes past int64
  (L ~ 10¹³ tokens at 100 TB) cannot overflow.

Scale shape: one scan builds (doc, dl); docs are pre-filtered with
`arrays_overlap` BEFORE the token explode so only candidate documents
pay the explode; df and the (N, L) corpus scalars are tiny broadcast
dims; the final top-k is a `TakeOrderedAndProject` (per-partition heaps,
no global sort).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .textops import tokens
from .util import local_frame, pin_corpus_dim

# k1 = 6/5, b = 3/4 (the classical defaults, kept rational on purpose —
# see module docstring for the closed integer form they produce).
BM25_K1_NUM, BM25_K1_DEN = 6, 5
BM25_B_NUM, BM25_B_DEN = 3, 4


def _bm25_prepare(
    docs: DataFrame,
    all_terms: list[str],
    id_col: str,
    text_col: str,
):
    """Shared BM25 inputs for one or many queries: the pinned
    term-frequency table (id, __dl, term, __tf) restricted to
    `all_terms`, the per-term document frequencies, and an
    `attach_stats(df)` applier that adds the corpus scalars (__n, __l)
    to a frame. The corpus text is tokenized in exactly ONE scan
    regardless of how many queries consume the result: the scan
    reduces each doc to a narrow (id, dl, matched-terms) row — the
    matched array is empty for almost every doc, so the pinned table
    is ~tens of bytes/row (the d04 doc-dim-signature shape; at true
    scale this is the table you'd stage to temp storage) — and both
    the corpus scalars and the tf table derive from it without
    re-tokenizing. The multi-query eval loop used to pay 2 full
    tokenize scans PER query.

    Batch job choreography (r13): the corpus scalars are a ONE-ROW
    aggregate, so they are read to the driver and attached as literal
    columns (no broadcast exchange, no checkpoint barrier — the same
    bounded driver-control read the IVF seeds use), and that one
    stats job doubles as the pin's cache-building action
    (`pin_corpus_dim` is lazy), collapsing the former
    pin-count + stats-checkpoint pair of jobs into one. Streaming
    frames keep the broadcast-join form (no driver read mid-plan)."""
    base = docs.select(F.col(id_col), tokens(F.col(text_col)).alias("__t"))
    narrow = base.select(
        id_col,
        F.size("__t").cast("long").alias("__dl"),
        F.filter("__t", lambda c: c.isin(all_terms)).alias("__m"),
    )
    streaming = narrow.isStreaming
    if not streaming:
        narrow = pin_corpus_dim(narrow)
        row = narrow.agg(
            F.count(F.lit(1)).alias("__n"), F.sum("__dl").alias("__l")
        ).first()
        n_docs, l_tot = row["__n"], row["__l"]

        def attach_stats(df: DataFrame) -> DataFrame:
            return df.withColumns(
                {
                    "__n": F.lit(n_docs).cast("long"),
                    "__l": F.lit(l_tot).cast("long"),
                }
            )

    else:
        stats = narrow.agg(
            F.count(F.lit(1)).alias("__n"), F.sum("__dl").alias("__l")
        )

        def attach_stats(df: DataFrame) -> DataFrame:
            return df.join(F.broadcast(stats))

    tf = (
        narrow.filter(F.size("__m") > 0)
        .select(id_col, "__dl", F.explode("__m").alias("term"))
        .groupBy(id_col, "__dl", "term")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    # pin tf too: it feeds both the df aggregate and one scored join
    # per query (the common_neighbor_links / d04 lesson); it is
    # ≤ |matched docs|·|terms| rows — cheap to pin, and it reads the
    # corpus pin the stats job just built.
    if not streaming:
        tf = tf.localCheckpoint(eager=True)
        # tf is checkpointed — nothing references the corpus-dim pin
        # anymore, so free it before the scoring joins run
        narrow.unpersist(blocking=False)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("__df"))
    return tf, dfreq, attach_stats


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    scale: int = 10**6,
    exact: bool = True,
) -> DataFrame:
    """Top-k documents for a bag-of-terms query → (doc_id, score).

    exact=True (default): integer BM25-odds (engine-exact; `score` is a
    DECIMAL(38,0) rendered as a digit string). exact=False: classical
    float BM25 with the log idf (`score` double) — same plan shape.
    Only documents containing ≥1 query term are scored (retrieval
    semantics); ties at the k boundary break by ascending doc id.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    tf, dfreq, attach_stats = _bm25_prepare(docs, query_terms, id_col, text_col)
    return _bm25_score_topk(
        tf, dfreq, attach_stats, k=k, id_col=id_col, scale=scale, exact=exact
    )


_DEC38 = "decimal(38,0)"


def _bm25_exact_contrib(scale: int):
    """The exact integer BM25-odds per-(doc, term) contribution column —
    shared by the single-query top-k and the fused multi-query eval so
    the two scoring paths cannot drift."""
    idf = F.expr(
        f"(CAST(2 * (__n - __df) + 1 AS {_DEC38}) * {scale})"
        f" div (2 * __df + 1)"
    )
    sat = F.expr(
        f"(CAST({scale} AS {_DEC38}) * 22 * __tf * __l)"
        f" div (CAST(10 AS {_DEC38}) * __tf * __l"
        f" + CAST(3 AS {_DEC38}) * __l"
        f" + CAST(9 AS {_DEC38}) * __dl * __n)"
    )
    return (idf.cast(_DEC38) * sat.cast(_DEC38)).cast(_DEC38)


def _bm25_score_topk(
    tf: DataFrame,
    dfreq: DataFrame,
    attach_stats,
    k: int,
    id_col: str,
    scale: int,
    exact: bool,
) -> DataFrame:
    scored = attach_stats(tf.join(F.broadcast(dfreq), "term"))
    if exact:
        dec = _DEC38
        agg = scored.withColumn(
            "__c", _bm25_exact_contrib(scale)
        ).groupBy(id_col).agg(
            F.sum("__c").cast(dec).alias("__score")
        )
        top = agg.orderBy(F.col("__score").desc(), F.col(id_col).asc()).limit(k)
        return top.select(
            id_col, F.col("__score").cast("string").alias("score")
        )
    idf = F.log(
        (F.col("__n") - F.col("__df") + F.lit(0.5))
        / (F.col("__df") + F.lit(0.5))
    )
    k1 = BM25_K1_NUM / BM25_K1_DEN
    b = BM25_B_NUM / BM25_B_DEN
    avgdl = F.col("__l") / F.col("__n")
    sat = (F.col("__tf") * (k1 + 1)) / (
        F.col("__tf") + k1 * (1 - b + b * F.col("__dl") / avgdl)
    )
    agg = scored.withColumn("__c", idf * sat).groupBy(id_col).agg(
        F.sum("__c").alias("score")
    )
    return agg.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rk",
    k: int = 60,
    scale: int = 10**12,
    top: int | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion of N independent rankings → (id,
    rrf_score): score = Σᵢ ⌊scale / (k + rankᵢ)⌋, summed over the
    rankings that contain the id (full-outer semantics — an id missing
    from one ranking simply contributes 0 from it, the standard RRF
    treatment of partial lists).

    The floor-scaled integer IS the contract (not an approximation of
    a float): at scale=10¹² two true RRF scores that differ do so by
    ≥ 1/(k+r)(k+r') > 10⁻¹² · scale for any realistic list length, so
    the integer order matches the real-valued order; being integer it
    is engine-exact. Each ranking is (id, rank) — produce ranks with
    `cumulative.ordered_prefix` so no input needs a single-task sort.
    Plan: N-1 equi-joins on the id; no ranking is rescanned.
    """
    if not rankings:
        raise ValueError("rankings must be non-empty")
    parts = [
        r.select(
            F.col(id_col),
            F.expr(f"CAST({scale} AS BIGINT) div ({k} + {rank_col})").alias(
                f"__s{i}"
            ),
        )
        for i, r in enumerate(rankings)
    ]
    fused = reduce(lambda a, b: a.join(b, id_col, "full_outer"), parts)
    score = reduce(
        lambda a, b: a + b,
        [F.coalesce(F.col(f"__s{i}"), F.lit(0)) for i in range(len(parts))],
    )
    out = fused.select(F.col(id_col), score.alias("rrf_score"))
    if top is not None:
        out = out.orderBy(
            F.col("rrf_score").desc(), F.col(id_col).asc()
        ).limit(top)
    return out


def retrieval_eval(
    docs: DataFrame,
    queries: dict[str, list[str]],
    relevance: DataFrame,
    k: int = 50,
    p_cut: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    scale: int = 10**6,
) -> DataFrame:
    """Ranking-quality evaluation over a labelled corpus — the offline
    eval loop of a retrieval stack (MRR / precision@N without the
    floats): for each named query, BM25-odds top-k is ranked exactly and
    scored against a per-doc boolean `relevance` table (doc_id, is_rel).

    Returns one row per query: n_topk, n_rel (relevant in top-k),
    first_rel_rank (the MRR numerator's rank, NULL when no relevant doc
    made the cut — exactly SQL's min-over-empty), rel_at_p
    (precision@`p_cut` numerator). All integers: MRR = mean(1/rank) and
    P@N = rel_at_p/p_cut follow driver-side.

    Scale shape: the corpus is scanned exactly TWICE no matter how many
    queries are evaluated — `_bm25_prepare` pins the tf table for the
    UNION of all query terms plus the one-row (N, L) scalars, and each
    query then scores from that tiny pinned table (broadcast df dims,
    TakeOrderedAndProject top-k — per-partition heaps, never a per-query
    sort of the matched docs). Per-term document frequencies are
    identical whether computed per query or over the union — df is a
    property of the term alone — so results match the per-query
    `bm25_topk` exactly.

    The per-query TAILS are fused (r12 optimization, guide §2.4/§3):
    the tagged top-k unions (≤ n_queries·k rows by construction) feed
    ONE window partitioned by query, ONE broadcast join against the
    big labelled table, and ONE grouped aggregate — where the former
    shape paid a relevance scan, a single-partition window, two
    rebuilt broadcasts and a one-row aggregate PER QUERY (plan diff:
    3 parquet scans → 1, 9 BroadcastExchange → 3, 3 Window → 1 for
    the 3-query zw5 entry). The per-query HEADS are fused too (second
    r12 step): one (query, term)-joined aggregate scores every query
    in a single pass over the pinned tf table (see the inline comment
    for the equality argument), so only the scale-safe per-query
    top-k heaps remain per-query. Queries whose top-k is empty (no
    matching doc) still emit their (query, 0, NULL, NULL, NULL) row
    via the left join from the literal query-name frame — the same
    agg-over-empty row the per-query loop produced."""
    all_terms = sorted({t for ts in queries.values() for t in ts})
    if not all_terms:
        raise ValueError("queries must contain at least one term")
    tf, dfreq, attach_stats = _bm25_prepare(docs, all_terms, id_col, text_col)

    # Score EVERY query in ONE aggregate (second r12 fusion step): the
    # (query, term) membership is a tiny literal dim broadcast into the
    # pinned tf table — a term shared by two queries fans its tf rows
    # out once per query, and groupBy(query, id) then sums exactly the
    # rows the former per-query `tf.filter(term.isin(terms))` branches
    # aggregated separately (per-query equality is the associativity of
    # the exact DECIMAL sum — no float reorder hazard). The scored
    # table is ≤ |queries|·|matched docs| rows, checkpointed so the
    # per-query TakeOrdered branches below read a materialized dim
    # instead of each re-running the join+aggregate (the former shape
    # paid 3 aggregate pipelines + rebuilt broadcasts). The top-k
    # itself stays one TakeOrderedAndProject PER query — per-partition
    # heaps, never a single-task sort of a query's matched docs — and
    # (score desc, id asc) is a TOTAL order, so the fused branches
    # return bit-identical rows to the per-query form.
    spark = docs.sparkSession
    qt = local_frame(
        spark,
        [(q, t) for q, terms in queries.items() for t in terms],
        "query string, term string",
    )
    scored = (
        attach_stats(
            tf.join(F.broadcast(qt), "term").join(F.broadcast(dfreq), "term")
        )
        .withColumn("__c", _bm25_exact_contrib(scale))
        .groupBy("query", id_col)
        .agg(F.sum("__c").cast(_DEC38).alias("__score"))
    )
    if not scored.isStreaming:
        # LAZY checkpoint (r13): the pin still guarantees the scoring
        # pipeline runs once for the per-query top-k branches (block-
        # manager partition locks dedupe concurrent stage reads), but
        # the materialization barrier job disappears — it happens
        # inside the first consuming action.
        scored = scored.localCheckpoint(eager=False)
    tops = []
    for qname in queries:
        top = (
            scored.filter(F.col("query") == qname)
            .orderBy(F.col("__score").desc(), F.col(id_col).asc())
            .limit(k)
        )
        tops.append(
            top.select(
                "query", id_col, F.col("__score").cast("string").alias("score")
            )
        )
    allk = reduce(lambda a, b: a.unionByName(b), tops)
    # Rank survivors with ONE window partitioned by query: the input is
    # bounded by n_queries·k (top-k outputs), so each task holds ≤k
    # rows per query by construction — the same provably-bounded
    # sanction as the IVF probe-candidate ranks. The order key casts
    # the digit-string score back to DECIMAL(38,0): ordering the string
    # numerically via a double (what a generic negate would do) could
    # merge distinct 38-digit scores that collide in 53-bit mantissa
    # space.
    w = Window.partitionBy("query").orderBy(
        F.col("score").cast("decimal(38,0)").desc(), F.col(id_col)
    )
    ranked = allk.select(
        "query", id_col, F.row_number().over(w).alias("rank")
    )
    j = relevance.join(F.broadcast(ranked), id_col)
    rel = F.col("is_rel")
    agg = j.groupBy("query").agg(
        F.count(F.lit(1)).alias("n_topk"),
        F.sum(rel.cast("long")).alias("n_rel"),
        F.min(F.when(rel, F.col("rank"))).alias("first_rel_rank"),
        F.sum((rel & (F.col("rank") <= p_cut)).cast("long")).alias(
            "rel_at_p"
        ),
    )
    names = local_frame(
        docs.sparkSession, [(q,) for q in queries], "query string"
    )
    # agg is ≤ one row per query by construction (groupBy("query") of a
    # ≤ n_queries·k-row input) — broadcast it so the final left join
    # never sort-merges two exchanges for a dim-sized frame
    return names.join(F.broadcast(agg), "query", "left").select(
        "query",
        F.coalesce(F.col("n_topk"), F.lit(0)).cast("long").alias("n_topk"),
        "n_rel",
        "first_rel_rank",
        "rel_at_p",
    )
