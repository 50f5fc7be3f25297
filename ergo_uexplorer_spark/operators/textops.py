"""Text-analysis operators for a training-data pipeline: tokenization,
portable hashing, language-ID, quality scoring, fingerprinting.

Everything is built from JVM-side `pyspark.sql.functions` (no Python UDFs
in the hot path) so whole-stage codegen applies. The hash primitive is
`md5 → first 15 hex digits → bigint`, chosen because it is bit-identical
in DuckDB (`('0x'||substr(md5(s),1,15))::BIGINT`), Spark
(`conv(substr(md5(s),1,15),16,10)`), and any other engine with md5 — which
makes every downstream sketch (minhash/simhash) oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = "[^a-z0-9]+"

# DuckDB SQL fragments mirroring the Column builders below — the suite
# composes oracle SQL out of these so both sides share one definition.
SQL_TOKENS = (
    "list_filter(string_split_regex(lower({col}), '[^a-z0-9]+'), x -> x <> '')"
)
SQL_HASH = "(('0x' || substr(md5({col}), 1, 15))::BIGINT)"


def tokens(col: Column) -> Column:
    """Lowercased word tokens, empties dropped."""
    return F.filter(F.split(F.lower(col), TOKEN_SPLIT_RE), lambda x: x != F.lit(""))


def portable_hash(col: Column) -> Column:
    """60-bit non-negative hash, identical in Spark and DuckDB."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def shingles(tok: Column, n: int = 3) -> Column:
    """Word n-gram shingles from a token array (empty when < n tokens)."""
    grams = F.transform(
        F.sequence(F.lit(0), F.size(tok) - n),
        lambda i: F.concat_ws(" ", *[F.get(tok, i + d) for d in range(n)]),
    )
    return F.when(F.size(tok) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def sql_shingles(n: int = 3) -> str:
    """DuckDB mirror of `shingles` over a list column named `t`
    (1-indexed lists; `range` end-exclusive ⇒ empty list when len < n)."""
    parts = " || ' ' || ".join(f"t[i+{d}]" for d in range(n))
    return f"list_transform(range(1, len(t) - {n - 2}), i -> {parts})"


# ---------------------------------------------------------------------------
# language ID: stopword-hit scoring over literal per-language lists.
# Heuristic (the reference has no NLP; this is the LLM-pipeline extension).
# ---------------------------------------------------------------------------
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it", "for", "on"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es", "se", "no"),
    "fr": ("le", "de", "un", "et", "la", "les", "des", "en", "du", "une"),
    "de": ("der", "die", "und", "in", "den", "von", "zu", "das", "mit", "ist"),
    "zh": ("de", "shi", "le", "zai", "he", "you", "wo", "ta", "men", "zhe"),
}
LANG_ORDER = ("en", "es", "fr", "de", "zh")  # deterministic tie priority


def lang_scores(tok_distinct: Column) -> dict[str, Column]:
    """Per-language stopword-intersection sizes over distinct tokens."""
    return {
        lang: F.size(
            F.array_intersect(tok_distinct, F.array(*[F.lit(w) for w in words]))
        )
        for lang, words in STOPWORDS.items()
    }


def lang_pred(scores: dict[str, Column]) -> Column:
    """argmax with LANG_ORDER tie priority, as a CASE chain (portable)."""
    expr = F.lit(LANG_ORDER[-1])
    for lang in reversed(LANG_ORDER[:-1]):
        later = [l for l in LANG_ORDER if LANG_ORDER.index(l) > LANG_ORDER.index(lang)]
        cond = None
        for o in later:
            c = scores[lang] >= scores[o]
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return expr


def sql_lang_pred(toks_expr: str) -> str:
    """DuckDB mirror of lang_scores+lang_pred over `tok` (distinct list)."""
    score = {
        lang: f"len(list_intersect({toks_expr}, {list(words)}))"
        for lang, words in STOPWORDS.items()
    }
    case = f"'{LANG_ORDER[-1]}'"
    for lang in reversed(LANG_ORDER[:-1]):
        later = [l for l in LANG_ORDER if LANG_ORDER.index(l) > LANG_ORDER.index(lang)]
        cond = " AND ".join(f"{score[lang]} >= {score[o]}" for o in later)
        case = f"CASE WHEN {cond} THEN '{lang}' ELSE {case} END"
    return case


PUNCT_RE = "[.,!?;:]"


def punct_count(col: Column) -> Column:
    return (
        F.length(col) - F.length(F.regexp_replace(col, PUNCT_RE, ""))
    ).cast("bigint")


def fingerprint(tok: Column) -> Column:
    """Order/multiplicity-insensitive document fingerprint: md5 over the
    sorted distinct token set (classic near-dup canonicalization).
    No tokens → NULL: concat_ws would silently render a null or empty
    token array as '' and fingerprint a MISSING document as the md5 of
    the empty string — conflating "no content" with real content (the
    dirty-twin sweep's finding; the SQL mirror's array_to_string of an
    empty list is NULL, so the engines now agree on the contract)."""
    return F.when(
        F.size(tok) > 0,
        F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tok)))),
    )


# ---------------------------------------------------------------------------
# BPE-ish subword counting: a GPT-2-style pre-tokenizer regex (contraction
# suffixes, letter runs, digit runs, punctuation runs, whitespace runs —
# each a would-be-BPE segment). Counting these approximates LLM token
# counts far better than word splits (the usual ~4 chars/token heuristic
# falls out of the same segmentation). The alternation is leftmost-first
# in both Java regex and RE2, so Spark and DuckDB segment identically.
# ---------------------------------------------------------------------------
BPE_ISH_RE = r"'[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"
SQL_BPE_COUNT = (
    "len(regexp_extract_all({col}, '''[a-z]+| ?[A-Za-z]+| ?[0-9]+"
    "| ?[^A-Za-z0-9\\s]+|\\s+'))"
)


def bpe_ish_count(col: Column) -> Column:
    """Number of BPE-ish segments (JVM-side regexp_extract_all)."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_ISH_RE), F.lit(0)))


# ---------------------------------------------------------------------------
# Pattern scrubbing (the PII-redaction stage of a training-data pipeline):
# conservative email/URL patterns, replaced with typed sentinels. Both
# patterns avoid Java/RE2 semantic differences (no backrefs, no lookaround),
# so the DuckDB oracle applies the identical transformation.
# ---------------------------------------------------------------------------
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^\s]+"


def scrub_patterns(col: Column) -> Column:
    """Replace emails then URLs with sentinels (order matters: an email
    inside a URL query string is already consumed by the URL rule if URLs
    ran first — emails first keeps both counts stable)."""
    return F.regexp_replace(
        F.regexp_replace(col, EMAIL_RE, "<EMAIL>"), URL_RE, "<URL>"
    )


def pattern_count(col: Column, pattern: str) -> Column:
    return F.size(F.regexp_extract_all(col, F.lit(pattern), F.lit(0)))


# ---------------------------------------------------------------------------
# Corpus-level distribution diagnostics: mixture planning reads these
# BEFORE setting source weights (a source whose unigram distribution
# diverges hard from the rest is either gold or garbage).
# ---------------------------------------------------------------------------
def source_unigram_tvd(docs, ppm: int = 1_000_000):
    """Pairwise total-variation distance between per-source unigram
    distributions, in integer parts-per-million → (source_a, source_b,
    tvd_ppm), source_a < source_b, all unordered pairs (0 for identical).

    Exact integer arithmetic throughout (per-(source,token) probability
    quantized to ppm by int64 `div` BEFORE differencing), so the result
    is engine-identical and an iterative-free oracle can check it.

    Missing tokens are handled WITHOUT a per-pair full-outer join:
    Σ_union |pa−pb| = Σ_matched |pa−pb| + (T(a) − Σ_matched pa)
                    + (T(b) − Σ_matched pb), where T(s) = Σ_tok ppm(s,·)
    — so one token-keyed self-join (fan-out ≤ n_sources per token) plus
    a source-dim cross join (n_sources² rows, broadcast) covers every
    pair including match-free ones. TVD = that sum div 2.

    Scale: the unigram table is vocabulary×sources-sized (aggregated,
    never raw tokens); the only big shuffle is the groupBy building it.
    """
    from pyspark.sql import DataFrame  # noqa: F401  (signature clarity)

    toks = docs.select(
        "source", F.explode(tokens(F.col("text"))).alias("tok")
    )
    uni = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    tot = uni.groupBy("source").agg(F.sum("cnt").alias("total"))
    p = uni.join(F.broadcast(tot), "source").select(
        "source", "tok", F.expr(f"{ppm} * cnt div total").alias("p")
    )
    tsum = p.groupBy("source").agg(F.sum("p").alias("tppm"))
    a, b = p.alias("a"), p.alias("b")
    matched = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(
            F.sum(F.abs(F.col("a.p") - F.col("b.p"))).alias("d_m"),
            F.sum("a.p").alias("pa_m"),
            F.sum("b.p").alias("pb_m"),
        )
    )
    x, y = tsum.alias("x"), tsum.alias("y")
    pairs = x.crossJoin(y).filter(F.col("x.source") < F.col("y.source")).select(
        F.col("x.source").alias("source_a"),
        F.col("y.source").alias("source_b"),
        F.col("x.tppm").alias("ta"),
        F.col("y.tppm").alias("tb"),
    )
    return (
        pairs.join(matched, ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            F.expr(
                "(coalesce(d_m, 0) + (ta - coalesce(pa_m, 0))"
                " + (tb - coalesce(pb_m, 0))) div 2"
            ).alias("tvd_ppm"),
        )
    )


def ngram_diversity(docs):
    """Per-source lexical-diversity stats → (source, n_tokens, n_bigrams,
    ttr_permille, distinct_bigram_permille): corpus-level type/token and
    distinct-bigram ratios — the cheap synthetic-text / template-spam
    tripwire (templated sources shows normal TTR but collapsed bigram
    diversity). Integer permille via int64 div; distincts are exact
    (count_distinct over the aggregated gram table)."""
    from .util import ensure_parallelism

    # tokenize+shingle is CPU-bound string work: a single-file corpus
    # scan would pin one core through BOTH explode branches (19.7 s vs
    # ~1 s at sf0.1 on local[32]) — same spread as the dedup family.
    # explode_outer, not explode: plain explode infers a size(...)>0
    # pruning predicate that predicate-pushdown drags BELOW the
    # repartition with the whole tokenize+shingle expression inlined —
    # the entire corpus then tokenizes twice inside a single-task
    # Filter on the unsplit scan (12.8 s of the observed 19.7 s at
    # sf0.1). outer explode generates no such predicate; the null row
    # an empty array produces is dropped by a cheap post-explode
    # filter instead.
    base = ensure_parallelism(docs).select(
        "source", tokens(F.col("text")).alias("t")
    ).select("source", "t", shingles(F.col("t"), 2).alias("bg"))
    uni = (
        base.select("source", F.explode_outer("t").alias("g"))
        .filter(F.col("g").isNotNull())
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count_distinct("g").alias("d_uni"),
        )
    )
    bi = (
        base.select("source", F.explode_outer("bg").alias("g"))
        .filter(F.col("g").isNotNull())
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.count_distinct("g").alias("d_bi"),
        )
    )
    return (
        uni.join(bi, "source")
        .select(
            "source",
            "n_tokens",
            "n_bigrams",
            F.expr("1000 * d_uni div n_tokens").alias("ttr_permille"),
            F.expr("1000 * d_bi div n_bigrams").alias(
                "distinct_bigram_permille"
            ),
        )
    )


def collocations(
    docs,
    k: int = 50,
    min_count: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Top-k collocations (two-word phrases) by an exact-integer PMI
    ratio: score = (c_xy · N · 10⁶) div (c_x · c_y) — the observed/
    expected co-occurrence ratio, a strictly monotone transform of PMI
    (log of the same ratio), so the induced ranking IS the PMI ranking
    while every score stays an integer both engines agree on.
    `min_count` is the standard support floor (PMI's rare-pair
    pathology). Returns (w1, w2, c_xy, c_x, c_y, score_ppm), ranked
    (score desc, w1, w2).

    Scale shape: one bigram agg on (w1, w2) and one unigram agg, both
    map-side combinable; the two frequency joins key on the word (vocab
    dimension, co-partitioned); N arrives as a broadcast scalar; the
    numerator runs 128-bit (DECIMAL(38,0) — c_xy·N·10⁶ passes int64
    around N ≈ 10¹³ tokens) and the final top-k is
    TakeOrderedAndProject (map-side partial top-k, the full ranking
    never materializes). Output scores fit int64 for any corpus with
    N·10⁶ div min_count < 2⁶³ (N ≈ 4·10¹³ at the default floor).
    """
    from pyspark.sql import functions as F

    from .util import ensure_parallelism

    t = ensure_parallelism(docs).select(tokens(F.col(text_col)).alias("t"))
    uni = (
        t.select(F.explode(F.col("t")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_row = uni.agg(F.sum("c").alias("N"))
    bi = (
        t.select(F.explode(shingles(F.col("t"), 2)).alias("g"))
        .select(
            F.split_part(F.col("g"), F.lit(" "), F.lit(1)).alias("w1"),
            F.split_part(F.col("g"), F.lit(" "), F.lit(2)).alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .filter(F.col("c_xy") >= min_count)
    )
    scored = (
        bi.join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c_x")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c_y")), "w2")
        .crossJoin(F.broadcast(n_row))
        .withColumn(
            "score_ppm",
            F.expr(
                "CAST((CAST(c_xy AS DECIMAL(38,0)) * N * 1000000)"
                " div (CAST(c_x AS DECIMAL(38,0)) * c_y) AS BIGINT)"
            ),
        )
    )
    return (
        scored.select("w1", "w2", "c_xy", "c_x", "c_y", "score_ppm")
        .orderBy(F.desc("score_ppm"), F.asc("w1"), F.asc("w2"))
        .limit(k)
    )


def inverted_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 2,
) -> DataFrame:
    """Term → posting-list build (the retrieval-index artifact) →
    (term, df, tf_total, postings): document frequency, total term
    frequency, and the ascending doc-id posting list serialized as a
    comma-joined string (engine-portable; a parquet sink would keep the
    array). `min_df` drops hapax terms — the bulk of the vocabulary.

    Spark-first: explode tokens → per-(term, doc) tf hash-agg (map-side
    combined — the explode never hits the shuffle at full fan-out) →
    per-term agg with sort_array(collect_list(doc)) for a deterministic
    posting order. Postings per term are the state bound (same posture
    as collect-based folds: fine for body text, cap with min_df/top-df
    guards for stopword-scale terms at 100 TB — or keep those terms'
    lists bucketed by doc-id range, the standard sharded-posting
    layout)."""
    tf = (
        docs.select(
            F.col(id_col).alias("doc"),
            F.explode(tokens(F.col(text_col))).alias("term"),
        )
        .groupBy("term", "doc")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return (
        tf.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("tf_total"),
            F.array_join(
                F.sort_array(F.collect_list(F.col("doc").cast("long"))), ","
            ).alias("postings"),
        )
        .filter(F.col("df") >= min_df)
    )


def token_rank_surprisal(docs, id_col: str = "doc_id", text_col: str = "text"):
    """CCNet-style LM quality scoring, integer-exact: score each document
    by the mean GLOBAL FREQUENCY RANK of its tokens (rank 1 = most
    common word). Rare-token-heavy documents score high — the same
    signal a unigram-LM perplexity filter thresholds on, but built from
    ranks so both engines agree bit-for-bit (log-probabilities are
    irrational; ranks are integers).

    Spark-first shape: one explode → vocab hash-agg (map-side combined),
    global rank over the VOCAB (|V| rows, not |tokens|) via
    `ordered_prefix` — range-partitioned row_number, no single-task
    window — then an equi-join of the token stream back to the ranked
    vocab on the token key (co-partitioned with the vocab agg's
    exchange) and a per-doc hash-agg. At 100 TB the only large shuffles
    are keyed by token — uniformly distributed after the stopword head,
    and AQE splits that head."""
    from .cumulative import ordered_prefix

    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    ranked = ordered_prefix(
        vocab.withColumn("neg_cnt", -F.col("cnt")),
        order_cols=["neg_cnt", "tok"],
        row_col="rnk",
    ).select("tok", "rnk")
    return (
        toks.join(ranked, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.sum("rnk").alias("sum_rank"),
        )
        .withColumn(
            "mean_rank", F.expr("sum_rank div n_toks").cast("long")
        )
    )


def char_collision_stats(docs, id_col: str = "doc_id", text_col: str = "text"):
    """Per-document character-distribution sufficient statistics for the
    Gopher/C4-style "randomness" quality filters: character count,
    distinct-character count, and the collision sum Σ cᵢ² over per-char
    counts cᵢ (Rényi-2 / collision entropy = −log₂(Σcᵢ²/n²) follows from
    these exact integers downstream).

    Scale shape: ZERO shuffle. The per-char histogram is folded inside a
    single whole-stage-codegen projection — sort the char array, then one
    `aggregate` HOF pass accumulates (run length → Σ run², distinct
    runs). Input row → output row with no explode of |text| rows and no
    (doc, char) exchange, so at 100 TB the operator is a pure map over
    the scan (the naive explode+groupBy ships one row per CHARACTER).
    Integer-exact, so the DuckDB oracle (which does pay the unnest) is
    hash-identical."""
    chars = F.array_sort(
        F.filter(F.split(F.col(text_col), ""), lambda c: c != F.lit(""))
    )
    # fold state: (prev char sentinel "", current run length, Σ finished
    # run², finished distinct-run count); empty strings were filtered so
    # the "" sentinel can never match a real char
    zero = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("sumsq"),
        F.lit(0).cast("long").alias("nd"),
    )

    def step(acc, c):
        same = c == acc["prev"]
        return F.struct(
            c.alias("prev"),
            F.when(same, acc["run"] + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.when(same, acc["sumsq"])
            .otherwise(acc["sumsq"] + acc["run"] * acc["run"])
            .alias("sumsq"),
            F.when(same, acc["nd"]).otherwise(acc["nd"] + 1).alias("nd"),
        )

    folded = F.aggregate(
        chars,
        zero,
        step,
        # close the final open run (run=0 ⇒ empty text ⇒ adds nothing)
        lambda acc: F.struct(
            (acc["sumsq"] + acc["run"] * acc["run"]).alias("sumsq"),
            acc["nd"].alias("nd"),
        ),
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        # char count == string length (split('') is every char); length()
        # avoids re-evaluating the split+sort, which CSE cannot share
        # across the HOF lambda boundary
        F.length(F.col(text_col)).cast("long").alias("n_chars"),
        folded.alias("_f"),
    ).select(
        "doc_id",
        "n_chars",
        # empty-set semantics for NULL text (0 distinct chars observed,
        # collision sum 0) — matches the oracle's COALESCE over its
        # per-char left join; the fold over a NULL array yields NULL
        F.coalesce(F.col("_f")["nd"], F.lit(0).cast("long")).alias(
            "n_distinct"
        ),
        F.coalesce(F.col("_f")["sumsq"], F.lit(0).cast("long")).alias(
            "sum_sq"
        ),
    )
