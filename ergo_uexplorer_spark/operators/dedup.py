"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale posture (the part that matters at 100 TB):
  * exact dedup is one hash-groupBy — partial aggregation map-side, no
    row data moves, only (hash, count, min_id);
  * the set-building work for Jaccard/MinHash happens INSIDE one
    whole-stage-codegen scan: `hashed_shingle_arrays` reduces each doc
    to its sorted distinct hashed-shingle array with per-row HOFs (no
    explode+distinct shuffle, no per-doc window);
  * exact-threshold n-gram Jaccard runs through LOSSLESS prefix
    filtering (`jaccard_prefix_pairs`): candidates come from an
    equi-join over the short per-doc prefix SLICES of those arrays,
    never an all-pairs product; verification is |array_intersect| with
    the tiny candidate table broadcast (`jaccard_pairs` over full
    exploded sets remains the quadratic test baseline);
  * MinHash signatures are ZERO shuffle (`array_min` transforms of the
    arrays); banding is a projection; the band self-join touches only
    bucket collisions;
  * SimHash signatures are ZERO shuffle: hashing is a codegen'd
    in-array projection (no explode), and the per-doc bit-vote is ONE
    Arrow kernel (numpy bit-matrix popcount — guide §4.2's native-
    code-in-batches posture; measured 2.8× over the historical
    explode + conditional-agg groupBy, which survives as the
    `_simhash_agg` test twin. The pure-HOF array-accumulator fold was
    ALSO tried and rejected: interpreted per-element allocation,
    ~2.5× slower than even the agg form). Pairing is the pigeonhole
    block-join — candidates from an (block, byte) equi-join, exact
    hamming verify on collisions only.

Thresholds are exact integer arithmetic (`den*shared >= num*union`), so
results are engine-independent — no float Jaccard in any predicate.

All sketch constants (hash params, bands) live here and are imported by
the oracle-SQL generators in `suite/dedup.py`, so Spark and DuckDB always
agree on the algorithm.
"""

from __future__ import annotations

import random
from functools import reduce

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import sizing
from .textops import portable_hash, shingles, tokens
from .util import ensure_parallelism as _ensure_parallelism
from .util import materialize_and_release, pin_corpus_dim

# ---------------------------------------------------------------------------
# MinHash constants (seeded, shared with the SQL oracle)
# ---------------------------------------------------------------------------
MINHASH_PRIME = 2147483647  # 2^31 - 1: a*h + b stays < 2^63
NUM_HASHES = 12
LSH_BANDS = 4
LSH_ROWS = 3  # bands * rows == num_hashes

_rng = random.Random(42)
MINHASH_A = tuple(_rng.randrange(1, MINHASH_PRIME) for _ in range(NUM_HASHES))
MINHASH_B = tuple(_rng.randrange(0, MINHASH_PRIME) for _ in range(NUM_HASHES))

SIMHASH_BITS = 32  # frozen d04 oracle width — historical twin only
SIMHASH_MOD = 1 << SIMHASH_BITS
# Production default. zwg's measured economics (SCALE.md): at 10× the
# 60-bit width cuts by-chance candidate volume 8.9×, verify work 2.9×,
# and the 32-bit width's 1,611 cross-copy false-positive pairs go to
# ZERO — by-chance candidates scale ~n²/2^block_bits, so the gap only
# widens at 100 TB. portable_hash is 60 bits: no second hash needed.
SIMHASH_SCALE_BITS = 60
# rows per Arrow-kernel chunk are packed until their summed token count
# hits this cap: bounds the kernel's bit matrix (cap × bits × 4 B ≈
# 60 MB) independently of batch width. Tests shrink it to force the
# multi-chunk path.
SIMHASH_KERNEL_CHUNK_VALS = 1 << 18


# Candidate-pair rows are two ids: the verify join broadcasts a
# checkpointed candidate table of up to this many rows (its block-manager
# bytes within BROADCAST_CAND_MAX_ROWS × sizing.PAIR_ROW_BYTES, ~420 MB),
# far under the 8 GB broadcast hard cap. Near-dup candidates grow
# QUADRATICALLY with cluster size on duplicate-heavy corpora, so past it
# the verify stays a shuffled hash join.
BROADCAST_CAND_MAX_ROWS = 5_000_000


def normalized_text(col):
    """lower + collapse whitespace — exact-dup canonical form."""
    return F.trim(F.regexp_replace(F.lower(col), "\\s+", " "))


def exact_dup_groups(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup via hash-groupBy: one row per distinct normalized text,
    keeping the min id as the canonical representative."""
    return (
        _ensure_parallelism(docs)
        .select(
            F.col(id_col), F.md5(normalized_text(F.col(text_col))).alias("text_hash")
        )
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_in_group"),
        )
    )


def shingle_sets(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(doc_id, s) distinct word-n-gram shingles (string form — the exact
    baseline)."""
    return (
        _ensure_parallelism(docs)
        # materialize the token array BEFORE the shingle lambda: Spark's
        # subexpression elimination does not cross higher-order-function
        # lambda boundaries, so an inlined tokens() expression would be
        # re-split per shingle element (~10x slower at sf0.1)
        .select(F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("t"))
        # per-doc dedup happens INSIDE the row (array_distinct) — doc
        # ids are unique, so (doc_id, s) is already globally distinct
        # and the former .distinct() exchange+aggregate pair disappears
        # from every downstream plan (r12 optimization, guide §2.4)
        .select(
            "doc_id",
            F.explode(F.array_distinct(shingles(F.col("t"), n))).alias("s"),
        )
    )


def hashed_shingle_sets(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(doc_id, h) distinct hashed shingles: project each shingle to its
    60-bit portable hash BEFORE the distinct shuffle — the network moves
    8-byte longs instead of shingle strings, and every downstream join
    (signatures, verification) is a long-key join. Collisions (~2^-60
    per pair) merge shingles on BOTH engines identically, so the oracle
    stays exact."""
    sh = (
        _ensure_parallelism(docs)
        # token array materialized first — see shingle_sets
        .select(F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("t"))
        # hash every shingle in-array, dedupe in-array (collisions merge
        # identically to the former post-explode .distinct()), explode
        # last: doc ids are unique, so (doc_id, h) needs no distinct
        # shuffle at all (r12 optimization, guide §2.4)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        shingles(F.col("t"), n), lambda s: portable_hash(s)
                    )
                )
            ).alias("h"),
        )
    )
    return sh


def hashed_shingle_arrays(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(doc_id, hs) — each doc's DISTINCT hashed shingles as an ASCENDING
    long array, equal as a set to `hashed_shingle_sets` but produced
    entirely INSIDE one whole-stage-codegen scan projection: tokenize →
    shingle → hash → array_distinct → array_sort are all per-row array
    HOFs, so there is NO explode, NO distinct shuffle, and NO per-doc
    window anywhere. This is the doc-dim signature-table shape (one row
    per doc, ~|shingles|·8 bytes) the prefix-filter joins want: the
    ascending order IS the global hash order the AllPairs prefix bound
    is defined over, and set operations (∩ sizes) become
    `array_intersect` on two bounded arrays instead of an
    explode + count join."""
    t = tokens(F.col(text_col))
    hs = F.array_sort(
        F.array_distinct(F.transform(shingles(F.col("t"), n), portable_hash))
    )
    return (
        _ensure_parallelism(docs)
        # token array materialized first — see shingle_sets
        .select(F.col(id_col).alias("doc_id"), t.alias("t"))
        .select("doc_id", hs.alias("hs"))
    )


def jaccard_pairs(
    sh: DataFrame, num: int = 4, den: int = 5, elem_col: str = "s"
) -> DataFrame:
    """All-pairs Jaccard ≥ num/den over shingle sets (quadratic baseline).

    Returns (doc_a, doc_b, shared, na, nb) with doc_a < doc_b. The join
    key is the shingle; AQE skew-join handles hot shingles. For corpus
    scale use `minhash_lsh_pairs` instead.
    """
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nn"))
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (
        a.join(
            b,
            (F.col(f"a.{elem_col}") == F.col(f"b.{elem_col}"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        pairs.join(
            counts.select(F.col("doc_id").alias("doc_a"), F.col("nn").alias("na")),
            "doc_a",
        )
        .join(
            counts.select(F.col("doc_id").alias("doc_b"), F.col("nn").alias("nb")),
            "doc_b",
        )
        .filter(
            F.lit(den) * F.col("shared")
            >= F.lit(num) * (F.col("na") + F.col("nb") - F.col("shared"))
        )
        .select("doc_a", "doc_b", "shared", "na", "nb")
    )


def _prefix_slice_rows(
    arr: DataFrame,
    num: int,
    den: int,
    id_alias: str = "doc_id",
    nn_alias: str = "nn",
    i_alias: str = "i",
) -> DataFrame:
    """(id, nn, i, h) prefix rows: posexplode of the AllPairs prefix
    slice — prefix length = nn − ⌈num·nn/den⌉ + 1 (integer arithmetic);
    the array is ascending, so slice(hs, 1, plen) IS the prefix in
    global hash order, and the 0-based position i doubles as the
    element's position in the FULL array (what the positional filter
    needs). Shared by every exact-threshold candidate generator so the
    bound arithmetic can never drift between the production joins and
    the zwe observability funnel."""
    nn = F.size("hs")
    plen = nn - F.expr(f"({num} * size(hs) + {den - 1}) div {den}") + F.lit(1)
    return arr.select(
        F.col("doc_id").alias(id_alias),
        nn.alias(nn_alias),
        F.posexplode(F.slice("hs", F.lit(1), plen)).alias(i_alias, "h"),
    )


def _ppjoin_conditions(an, bn, ai, bi, num: int, den: int):
    """AllPairs/PPJoin+ LOSSLESS pruning predicates for Jaccard ≥
    num/den, given both sides' set sizes and matched 0-based prefix
    positions:
      * length filter — J ≥ t forces t·max(|A|,|B|) ≤ min(|A|,|B|),
        i.e. den·na ≥ num·nb in both directions;
      * positional filter — a qualifying pair needs overlap
        α = ⌈num·(na+nb)/(num+den)⌉, and at a matched element the
        overlap is at most 1 + min(na−i−1, nb−j−1); the pair's FIRST
        shared element (which lies in both prefixes — the AllPairs
        guarantee) satisfies the bound exactly, so keeping pairs where
        ANY matched row passes is lossless. Ceil-free integer form:
        (num+den)·ubound ≥ num·(na+nb)."""
    ubound = F.lit(1) + F.least(an - ai - F.lit(1), bn - bi - F.lit(1))
    return (
        (F.lit(den) * an >= F.lit(num) * bn)
        & (F.lit(den) * bn >= F.lit(num) * an)
        & (F.lit(num + den) * ubound >= F.lit(num) * (an + bn))
    )


def _verify_pairs(
    cand: DataFrame,
    arr_a: DataFrame,
    arr_b: DataFrame,
    a_col: str,
    b_col: str,
    num: int,
    den: int,
    containment: bool = False,
) -> DataFrame:
    """Exact verify of candidate id pairs against the pinned doc-dim
    hash arrays: shared = |array_intersect| on the two candidates'
    arrays (per-pair bounded work), threshold in exact integer
    arithmetic — Jaccard (den·shared ≥ num·(na+nb−shared)) or
    containment (den·shared ≥ num·min(na,nb)). The candidate table is
    broadcast only when it is a checkpoint whose bytes prove it bounded;
    a candidate table that is not checkpointed gets no hint, and AQE may
    still broadcast it at run time."""
    if sizing.broadcast_ok(
        cand, BROADCAST_CAND_MAX_ROWS * sizing.PAIR_ROW_BYTES
    ):
        cand = F.broadcast(cand)
    j = (
        cand.join(
            arr_a.select(F.col("doc_id").alias(a_col), F.col("hs").alias("__ha")),
            a_col,
        )
        .join(
            arr_b.select(F.col("doc_id").alias(b_col), F.col("hs").alias("__hb")),
            b_col,
        )
        .select(
            a_col,
            b_col,
            F.size(F.array_intersect("__ha", "__hb")).cast("long").alias(
                "shared"
            ),
            F.size("__ha").cast("long").alias("na"),
            F.size("__hb").cast("long").alias("nb"),
        )
    )
    if containment:
        thr = F.lit(den) * F.col("shared") >= F.lit(num) * F.least(
            F.col("na"), F.col("nb")
        )
    else:
        thr = F.lit(den) * F.col("shared") >= F.lit(num) * (
            F.col("na") + F.col("nb") - F.col("shared")
        )
    return j.filter(thr)


def jaccard_prefix_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num: int = 4,
    den: int = 5,
) -> DataFrame:
    """Exact n-gram Jaccard ≥ num/den via LOSSLESS prefix filtering
    (AllPairs / PPJoin candidate generation, Bayardo et al.): sort each
    doc's hashed shingles by the global hash order; a pair with
    J ≥ t must share ≥ ceil(t·|a|) elements, so its globally-smallest
    shared element sits inside each doc's first |a| − ceil(t·|a|) + 1
    shingles. Candidates therefore come from an equi-join restricted to
    those short prefixes; the exact count-join verifies candidates only.

    Returns exactly the all-pairs result (doc_a, doc_b, shared, na, nb)
    over hashed shingle sets — but the only quadratic-ish work is the
    prefix join, whose per-key fan-out is bounded by prefix length
    (≈ (1−t)·|set| + 1, i.e. ~20% of shingles at t = 0.8). This is the
    graded scale path for exact-threshold Jaccard; `minhash_lsh_pairs`
    is the probabilistic one.

    Plan shape: the doc-dim (doc_id, sorted hash array) table comes out
    of ONE codegen scan (`hashed_shingle_arrays` — no explode/distinct
    shuffle, no per-doc window; the old row-form path paid all three),
    is pinned once, and feeds (a) the prefix explode — only the short
    per-doc prefix slice ever leaves the array — and (b) the verify,
    where shared = |array_intersect| on the two candidates' arrays, a
    per-pair bounded computation with the tiny candidate table
    broadcast. Nothing corpus-sized shuffles at any point.
    """
    arr = pin_corpus_dim(hashed_shingle_arrays(docs, id_col, text_col, n))
    # PPJoin+-style LOSSLESS pruning inside the candidate join, before
    # anything shuffles to the distinct (`_ppjoin_conditions`)
    prefix = _prefix_slice_rows(arr, num, den)
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & _ppjoin_conditions(
                F.col("a.nn"),
                F.col("b.nn"),
                F.col("a.i"),
                F.col("b.i"),
                num,
                den,
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
        # staged execution (see minhash_lsh_pairs): the candidate pair
        # list is tiny — checkpoint it so the verify job starts from a
        # bounded RDD instead of re-walking the prefix-join DAG
        .localCheckpoint(eager=True)
    )
    out = _verify_pairs(cand, arr, arr, "doc_a", "doc_b", num, den)
    return materialize_and_release(out, arr)


def jaccard_prefix_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num: int = 4,
    den: int = 5,
) -> DataFrame:
    """Observability for the exact-Jaccard dedup funnel → three rows
    (stage, n): `prefix_rows` (exploded prefix volume — the join's
    shuffle input), `candidate_pairs` (distinct pairs surviving the
    length + positional filters — the verify stage's workload), and
    `verified_pairs` (pairs actually ≥ num/den). Before launching a
    100 TB verify you want this funnel: candidate volume is the number
    that decides executor sizing, and a prefix/candidate ratio far off
    the corpus's historical one flags boilerplate drift before it burns
    a cluster-day. Same constants and filter arithmetic as
    `jaccard_prefix_pairs` (shared expressions below), so the funnel is
    exactly what the production operator would do."""
    arr = pin_corpus_dim(hashed_shingle_arrays(docs, id_col, text_col, n))
    prefix = _prefix_slice_rows(arr, num, den).localCheckpoint(eager=True)
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & _ppjoin_conditions(
                F.col("a.nn"),
                F.col("b.nn"),
                F.col("a.i"),
                F.col("b.i"),
                num,
                den,
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    verified = _verify_pairs(cand, arr, arr, "doc_a", "doc_b", num, den)

    def _count_row(df: DataFrame, stage: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("bigint").alias("n")).select(
            F.lit(stage).alias("stage"), "n"
        )

    out = (
        _count_row(prefix, "prefix_rows")
        .unionByName(_count_row(cand, "candidate_pairs"))
        .unionByName(_count_row(verified, "verified_pairs"))
    )
    return materialize_and_release(out, arr)


def containment_pairs(
    sh: DataFrame, num: int = 9, den: int = 10, elem_col: str = "s"
) -> DataFrame:
    """All-pairs n-gram CONTAINMENT ≥ num/den over shingle sets:
    C(A,B) = |A∩B| / min(|A|,|B|). Containment catches quote/subset
    duplication Jaccard misses — a tweet embedded verbatim in a long
    article has tiny Jaccard but containment ≈ 1. Quadratic baseline;
    `containment_prefix_pairs` is the scale path.

    Returns (doc_a, doc_b, shared, na, nb, cont_permille) with
    doc_a < doc_b; cont_permille = 1000·shared div min(na,nb) — integer,
    engine-identical.
    """
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nn"))
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (
        a.join(
            b,
            (F.col(f"a.{elem_col}") == F.col(f"b.{elem_col}"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        pairs.join(
            counts.select(F.col("doc_id").alias("doc_a"), F.col("nn").alias("na")),
            "doc_a",
        )
        .join(
            counts.select(F.col("doc_id").alias("doc_b"), F.col("nn").alias("nb")),
            "doc_b",
        )
        .filter(
            F.lit(den) * F.col("shared")
            >= F.lit(num) * F.least(F.col("na"), F.col("nb"))
        )
        .select(
            "doc_a",
            "doc_b",
            "shared",
            "na",
            "nb",
            F.expr("1000 * shared div least(na, nb)").alias("cont_permille"),
        )
    )


def containment_prefix_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num: int = 9,
    den: int = 10,
) -> DataFrame:
    """Exact n-gram containment ≥ num/den via LOSSLESS prefix filtering.

    The bound transfers from the Jaccard form (Bayardo et al. AllPairs)
    to the min-denominator: for a qualifying pair the SMALLER set S has
    shared ≥ ceil(t·|S|), so at most |S| − ceil(t·|S|) of S's own
    shingles are absent from the other doc — S's first
    |S| − ceil(t·|S|) + 1 shingles in the global hash order cannot all
    be missing. Hence every qualifying pair appears in
    prefix ⋈ FULL (either direction), never requiring prefix ⋈ prefix's
    both-sides-bounded assumption (which is only lossless when BOTH
    sizes bound the overlap, i.e. Jaccard). The full side carries hot
    boilerplate shingles; AQE skew-join handles those keys, and the
    prefix side stays ≈ (1−t)·|set|+1 per doc (~10% at t = 0.9).

    Verification computes exact shared counts over candidate docs only.
    Output is exactly the all-pairs `containment_pairs` result.

    Plan shape: like `jaccard_prefix_pairs`, the doc-dim sorted-hash
    arrays come out of ONE codegen scan and are pinned; the candidate
    join explodes only the short prefix slice on one side (the full
    side must stay full for the containment bound to be lossless — it
    explodes from the pinned arrays straight into the join exchange,
    with no distinct/window stage of its own), and the verify is
    |array_intersect| with the tiny candidate table broadcast.
    """
    arr = pin_corpus_dim(hashed_shingle_arrays(docs, id_col, text_col, n))
    nn = F.size("hs")
    plen = (
        nn - F.expr(f"({num} * size(hs) + {den - 1}) div {den}") + F.lit(1)
    )
    prefix = arr.select(
        "doc_id",
        nn.alias("nn"),
        F.posexplode(F.slice("hs", F.lit(1), plen)).alias("i", "h"),
    )
    full = arr.select(
        "doc_id", nn.alias("nn"), F.posexplode("hs").alias("i", "h")
    )
    a, b = prefix.alias("a"), full.alias("b")
    an, bn = F.col("a.nn"), F.col("b.nn")
    # positional filter (PPJoin+, containment form): a qualifying pair
    # needs overlap α = ⌈num·min(na,nb)/den⌉, and at a matched element
    # the overlap is ≤ 1 + min(remaining on each side); the first shared
    # element lies inside the SMALLER set's prefix (the lossless bound
    # above), and that row appears in this prefix ⋈ full join whichever
    # doc is smaller, so per-row filtering + distinct keeps every
    # qualifying pair. No length filter exists for containment — a tiny
    # set fully inside a huge one qualifies by design.
    ubound = F.lit(1) + F.least(
        an - F.col("a.i") - F.lit(1), bn - F.col("b.i") - F.lit(1)
    )
    cand = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") != F.col("b.doc_id"))
            & (F.lit(den) * ubound >= F.lit(num) * F.least(an, bn)),
        )
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    out = _verify_pairs(
        cand, arr, arr, "doc_a", "doc_b", num, den, containment=True
    ).select(
        "doc_a",
        "doc_b",
        "shared",
        "na",
        "nb",
        F.expr("1000 * shared div least(na, nb)").alias("cont_permille"),
    )
    return materialize_and_release(out, arr)


def minhash_signatures(sh_hashed: DataFrame) -> DataFrame:
    """12 minhashes per doc in one shuffle (12 partial `min` aggs) over
    hashed shingle sets (doc_id, h)."""
    hm = sh_hashed.withColumn("hm", F.col("h") % MINHASH_PRIME)
    aggs = [
        F.min(
            (F.lit(MINHASH_A[i]) * F.col("hm") + F.lit(MINHASH_B[i]))
            % MINHASH_PRIME
        ).alias(f"mh{i}")
        for i in range(NUM_HASHES)
    ]
    return hm.groupBy("doc_id").agg(*aggs)


def minhash_signatures_from_arrays(arr: DataFrame) -> DataFrame:
    """12 minhashes per doc with ZERO shuffle: `array_min` over per-row
    transforms of the doc's (already distinct) hashed-shingle array —
    bit-identical to `minhash_signatures` (the same (a·(h mod p)+b)
    mod p family over the same distinct sets; a·hm < 2³¹·2³¹ fits
    int64). Docs with no shingles carry no signature row, matching the
    groupBy form (which has no input rows for them)."""
    def _mh(a: int, b: int):
        # one-arg closure: a two-parameter lambda would be interpreted
        # by F.transform as (element, index)
        return lambda h: (F.lit(a) * (h % MINHASH_PRIME) + F.lit(b)) % (
            MINHASH_PRIME
        )

    cols = [
        F.array_min(
            F.transform("hs", _mh(MINHASH_A[i], MINHASH_B[i]))
        ).alias(f"mh{i}")
        for i in range(NUM_HASHES)
    ]
    return arr.filter(F.size("hs") > 0).select("doc_id", *cols)


def banded_signatures(sig: DataFrame) -> DataFrame:
    """(doc_id, band, bsig) banded minhash rows — the LSH bucket key.
    Pure projection (a 4-way union of column slices), no shuffle."""
    bands = []
    for bi in range(LSH_BANDS):
        cols = [f"mh{bi * LSH_ROWS + r}" for r in range(LSH_ROWS)]
        bands.append(
            sig.select(
                "doc_id",
                F.lit(bi).alias("band"),
                F.concat_ws("-", *cols).alias("bsig"),
            )
        )
    return reduce(DataFrame.unionByName, bands)


def lsh_candidates(sig: DataFrame) -> DataFrame:
    """Banded LSH candidate pairs (doc_a < doc_b) from minhash signatures."""
    allb = banded_signatures(sig)
    a, b = allb.alias("a"), allb.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bsig") == F.col("b.bsig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num: int = 4,
    den: int = 5,
) -> DataFrame:
    """MinHash→LSH→exact-verify near-dup pairs ≥ num/den Jaccard.

    The exact verification join runs ONLY over LSH candidates — this is
    the shape that survives a 100× corpus scale-up.

    Plan shape: ONE codegen scan builds the pinned doc-dim sorted-hash
    arrays; signatures are a zero-shuffle projection of it
    (`minhash_signatures_from_arrays`); only the band-bucket self-join
    shuffles; verification is |array_intersect| over the two
    candidates' arrays with the tiny candidate table broadcast. The
    old row-form path additionally paid the explode+distinct shuffle,
    a 12-agg signature groupBy, and an explode+count verify join.
    Staged checkpoints between stages (signatures / candidates are
    tiny) keep the verify job reading bounded RDDs instead of
    re-analyzing one ~30-stage DAG — the same staged-beats-fused
    A/B result measured in round 5 holds for the array form.
    """
    arr = pin_corpus_dim(hashed_shingle_arrays(docs, id_col, text_col, n))
    sig = minhash_signatures_from_arrays(arr).localCheckpoint(eager=True)
    cand = lsh_candidates(sig).localCheckpoint(eager=True)
    out = _verify_pairs(cand, arr, arr, "doc_a", "doc_b", num, den)
    return materialize_and_release(out, arr)


def incremental_dedup(
    new_docs: DataFrame,
    base_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num: int = 4,
    den: int = 5,
) -> DataFrame:
    """Screen an INCOMING batch against an EXISTING corpus: for every new
    document, find whether some base document is a near-dup (n-gram
    Jaccard ≥ num/den, MinHash-LSH candidates, exact verify) →
    (doc_id, dup_of, keep) over the new batch, dup_of = the smallest
    matching base id.

    This is the corpus-refresh primitive `minhash_lsh_pairs` (one-shot,
    within-corpus) doesn't cover: a crawl refresh dedups the NEW slice
    against 100 TB of already-accepted data without re-pairing the base
    corpus against itself. The band join is strictly cross-side
    (new ⋈ base on (band, bsig)), so base×base collisions — the bulk of
    the bucket volume — are never generated; verification touches only
    collided pairs via |array_intersect| on the two pinned doc-dim
    hash arrays (the tiny candidate table broadcast). At scale the
    base signatures are a precomputed artifact written at accept time
    (`sigstore.write_signature_store`) and the store path takes them
    as-is; here they're derived inline — zero-shuffle projections of
    the arrays — so the operator is self-contained over the driver
    tables.
    """
    # staged execution, same rationale as minhash_lsh_pairs: the
    # signature/candidate stages are doc-dim/collision-sized; the BASE
    # side is the 100 TB one, so it gets the adaptive pin too
    arr_new = pin_corpus_dim(hashed_shingle_arrays(new_docs, id_col, text_col, n))
    arr_base = pin_corpus_dim(
        hashed_shingle_arrays(base_docs, id_col, text_col, n)
    )
    sig_new = minhash_signatures_from_arrays(arr_new).localCheckpoint(eager=True)
    sig_base = minhash_signatures_from_arrays(arr_base).localCheckpoint(
        eager=True
    )
    bn = banded_signatures(sig_new).select(
        F.col("doc_id").alias("new_id"), "band", "bsig"
    )
    bb = banded_signatures(sig_base).select(
        F.col("doc_id").alias("base_id"), "band", "bsig"
    )
    cand = (
        bn.join(bb, ["band", "bsig"])
        .select("new_id", "base_id")
        .distinct()
        .localCheckpoint(eager=True)
    )
    verified = _verify_pairs(
        cand, arr_new, arr_base, "new_id", "base_id", num, den
    ).select("new_id", "base_id")
    out = (
        new_docs.select(F.col(id_col).alias("doc_id"))
        .join(
            verified.groupBy("new_id").agg(F.min("base_id").alias("dup_of")),
            F.col("doc_id") == F.col("new_id"),
            "left",
        )
        .select("doc_id", "dup_of", F.col("dup_of").isNull().alias("keep"))
    )
    return materialize_and_release(out, arr_new, arr_base)


def incremental_jaccard_exact(
    new_docs: DataFrame,
    base_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num: int = 4,
    den: int = 5,
) -> DataFrame:
    """EXACT-threshold corpus-refresh screen — `incremental_dedup`'s
    deterministic twin: for every incoming document, find whether some
    base document has n-gram Jaccard ≥ num/den, with candidates from a
    LOSSLESS cross-side prefix join (AllPairs/PPJoin+ length+positional
    filters, same bounds as `jaccard_prefix_pairs` — the first shared
    element of a qualifying pair sits in BOTH prefixes whichever corpus
    each doc is in). Returns (doc_id, dup_of, keep) over the new batch,
    dup_of = smallest matching base id.

    This is the screen a policy that demands exactness runs where
    `incremental_dedup` runs MinHash: no false negatives by
    construction, at the cost of the prefix join's shuffle (base-side
    prefix rows ≈ 20% of base shingles at t=0.8 — at true scale they'd
    be a precomputed artifact next to the signature store). base×base
    pairs are never generated: the join is strictly cross-side."""
    arr_new = pin_corpus_dim(hashed_shingle_arrays(new_docs, id_col, text_col, n))
    arr_base = pin_corpus_dim(
        hashed_shingle_arrays(base_docs, id_col, text_col, n)
    )
    a = _prefix_slice_rows(arr_new, num, den, "new_id", "new_nn", "new_i")
    b = _prefix_slice_rows(arr_base, num, den, "base_id", "base_nn", "base_i")
    cand = (
        a.join(
            b,
            (a["h"] == b["h"])
            & _ppjoin_conditions(
                F.col("new_nn"),
                F.col("base_nn"),
                F.col("new_i"),
                F.col("base_i"),
                num,
                den,
            ),
        )
        .select("new_id", "base_id")
        .distinct()
        .localCheckpoint(eager=True)
    )
    verified = _verify_pairs(
        cand, arr_new, arr_base, "new_id", "base_id", num, den
    ).select("new_id", "base_id")
    out = (
        new_docs.select(F.col(id_col).alias("doc_id"))
        .join(
            verified.groupBy("new_id").agg(F.min("base_id").alias("dup_of")),
            F.col("doc_id") == F.col("new_id"),
            "left",
        )
        .select("doc_id", "dup_of", F.col("dup_of").isNull().alias("keep"))
    )
    return materialize_and_release(out, arr_new, arr_base)


def dedup_keep_best(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num: int = 4,
    den: int = 5,
) -> DataFrame:
    """Quality-canonical cluster representatives → (component, keep_id,
    keep_tokens, n_members), one row per near-dup cluster: the kept doc
    is the member with the MOST tokens (ties → smallest id) — the
    keep-the-most-complete-copy policy a corpus cleaner actually wants,
    vs `dedup_clusters`' arbitrary min-id canonical (a truncated scrape
    of a page should lose to the full copy, whatever their ids).

    Scale shape: clusters come from `dedup_clusters` (prefix-filtered
    pairs + connected components — cluster-member rows are collision-
    bounded, tiny next to the corpus); the member table is broadcast
    into the docs join so ONLY cluster members are re-tokenized for the
    quality signal; the argmax is one `max_by` hash-agg over a struct
    key (commutative, map-side combined — no per-cluster sort)."""
    comps = dedup_clusters(docs, id_col, text_col, n, num, den)
    members = (
        F.broadcast(comps.select("doc_id", "component"))
        .join(
            docs.select(
                F.col(id_col).alias("doc_id"), F.col(text_col).alias("__t")
            ),
            "doc_id",
        )
        # tokenize AFTER the member join so only cluster members pay it
        .select(
            "doc_id",
            "component",
            F.size(tokens(F.col("__t"))).cast("long").alias("__q"),
        )
    )
    return members.groupBy("component").agg(
        # id-type-agnostic argmax: min_by over (−q, id) structs — structs
        # compare field-by-field, so the minimum is max q then SMALLEST
        # id, with no negation of the id (string doc ids would throw
        # under ANSI mode with the old (-doc_id) tie-break)
        F.min_by(
            "doc_id",
            F.struct(
                (-F.col("__q")).alias("negq"), F.col("doc_id").alias("id")
            ),
        ).alias("keep_id"),
        F.max("__q").alias("keep_tokens"),
        F.count(F.lit(1)).alias("n_members"),
    )


def all_keep_decisions(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, dup_of=NULL, keep=true) over `docs` — the decision frame
    for a batch with no base or no candidates, dup_of typed like the id
    column so both decision paths stay schema-identical."""
    id_type = dict(docs.dtypes)[id_col]
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.lit(None).cast(id_type).alias("dup_of"),
        F.lit(True).alias("keep"),
    )


def screen_cross_candidates(
    new_docs: DataFrame,
    sh_new: DataFrame,
    sh_base: DataFrame,
    nb: DataFrame,
    cand: DataFrame,
    num: int,
    den: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Shared verification tail of the incremental screens: exact
    Jaccard over the candidate (new_id, base_id) pairs, decisions over
    the full new batch. `sh_base` may be pre-pruned to candidate docs
    (the signature-store path prunes it to candidate shards before the
    semi-join); `nb` is the per-base-doc shingle count (doc_id, nb) —
    derived inline or read from the store's counts table."""
    a = sh_new.join(
        cand.select(F.col("new_id").alias("doc_id")).distinct(),
        "doc_id",
        "left_semi",
    ).alias("a")
    b = sh_base.join(
        cand.select(F.col("base_id").alias("doc_id")).distinct(),
        "doc_id",
        "left_semi",
    ).alias("b")
    shared = (
        a.join(b, F.col("a.h") == F.col("b.h"))
        .groupBy(
            F.col("a.doc_id").alias("new_id"),
            F.col("b.doc_id").alias("base_id"),
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    na = sh_new.groupBy("doc_id").agg(F.count(F.lit(1)).alias("na"))
    verified = (
        shared.join(cand, ["new_id", "base_id"], "left_semi")
        .join(na.withColumnRenamed("doc_id", "new_id"), "new_id")
        .join(nb.withColumnRenamed("doc_id", "base_id"), "base_id")
        .filter(
            F.lit(den) * F.col("shared")
            >= F.lit(num) * (F.col("na") + F.col("nb") - F.col("shared"))
        )
        .select("new_id", "base_id")
    )
    return (
        new_docs.select(F.col(id_col).alias("doc_id"))
        .join(
            verified.groupBy("new_id").agg(F.min("base_id").alias("dup_of")),
            F.col("doc_id") == F.col("new_id"),
            "left",
        )
        .select("doc_id", "dup_of", F.col("dup_of").isNull().alias("keep"))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = SIMHASH_SCALE_BITS,
) -> DataFrame:
    """`bits`-wide SimHash over distinct unigram tokens →
    (doc_id, simhash). Default 60 (the production SCALE width —
    portable_hash is 60 bits, so the wide signature needs no second
    hash, and the pigeonhole blocks in `simhash_pairs` become 15-bit:
    collision rate 1/32768 vs 1/256, so the by-chance candidate
    volume, which grows ~n²/2^block_bits, drops 128× — measured in
    SCALE.md's simhash section). Pass bits=32 (`SIMHASH_BITS`) only to
    reproduce the frozen d04 oracle twin.

    ZERO shuffle: hashing stays JVM-side (portable_hash over the
    in-array distinct tokens — one codegen'd projection, no explode),
    then ONE Arrow kernel turns each doc's hash array into the
    signature with a vectorized bit-matrix popcount (numpy). Docs with
    no tokens are absent from the output, exactly as the historical
    explode form (explode of an empty array emits no rows). The former
    explode + `bits`-conditional-sum groupBy — and its one exchange —
    is kept as `_simhash_agg`, the test-only equality twin; the Arrow
    kernel measured 2.8× faster at 60 bits (1.72 → 0.62 s on the
    sf0.1 corpus, best-of-3 interleaved) and bit-identical at both
    widths and both SFs."""
    if not 1 <= bits <= 60:
        raise ValueError("bits must be in [1, 60] (portable_hash width)")
    chunk_cap = SIMHASH_KERNEL_CHUNK_VALS

    @F.pandas_udf("long")
    def _sig(arrs: pd.Series) -> pd.Series:
        import numpy as np

        n_rows = len(arrs)
        lens = arrs.map(len).to_numpy(dtype=np.int64)
        out = np.zeros(n_rows, dtype=np.uint64)
        shifts = np.arange(bits, dtype=np.uint64)
        # chunk by rows so the per-chunk bit matrix (flat_vals × bits,
        # int32) stays ~60 MB regardless of batch width — guide §4.2's
        # "vectorize whole batches" bounded by §5's per-task memory
        start = 0
        while start < n_rows:
            end, tot = start, 0
            while end < n_rows and (tot == 0 or tot + lens[end] <= chunk_cap):
                tot += lens[end]
                end += 1
            vals = [
                np.asarray(arrs.iat[i], dtype=np.uint64)
                for i in range(start, end)
                if lens[i]
            ]
            if vals:
                flat = np.concatenate(vals)
                bitm = ((flat[:, None] >> shifts) & np.uint64(1)).astype(
                    np.int32
                )
                clens = lens[start:end]
                nz = clens[clens > 0]
                offs = np.zeros(len(nz), dtype=np.int64)
                np.cumsum(nz[:-1], out=offs[1:])
                ones = np.add.reduceat(bitm, offs, axis=0)
                sigs = (
                    ((2 * ones.astype(np.int64)) > nz[:, None]).astype(
                        np.uint64
                    )
                    << shifts
                ).sum(axis=1)
                out[start:end][clens > 0] = sigs
            start = end
        return pd.Series(out.astype(np.int64))

    arr = _ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"),
        F.transform(
            F.array_distinct(tokens(F.col(text_col))),
            lambda w: portable_hash(w) % (1 << bits),
        ).alias("hm"),
    ).filter(F.size("hm") >= 1)
    return arr.select("doc_id", _sig("hm").alias("simhash"))


def _simhash_agg(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = SIMHASH_SCALE_BITS,
) -> DataFrame:
    """Historical explode + `bits`-conditional-sum groupBy form of
    `simhash` — kept ONLY as the equality twin the property tests pin
    the Arrow kernel against (same role as `simhash_pairs_allpairs`
    for the pigeonhole join)."""
    if not 1 <= bits <= 60:
        raise ValueError("bits must be in [1, 60] (portable_hash width)")
    tok = _ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("w"),
    )
    hm = tok.withColumn("hm", portable_hash(F.col("w")) % (1 << bits))
    aggs = [
        F.sum(
            F.when(
                F.shiftright(F.col("hm"), j).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(bits)
    ]
    per_doc = hm.groupBy("doc_id").agg(*aggs)
    sig = reduce(
        lambda acc, j: acc
        + F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(0),
        range(bits),
        F.lit(0).cast("long"),
    )
    return per_doc.select("doc_id", sig.alias("simhash"))


def simhash_pairs(
    sig: DataFrame, max_hamming: int = 3, bits: int = SIMHASH_SCALE_BITS
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance (xor + bit_count),
    via the pigeonhole block-join: split the `bits`-wide signature into
    max_hamming+1 equal blocks — a pair within hamming ≤ max_hamming
    differs in at most max_hamming blocks, so AT LEAST ONE block is
    byte-identical. Candidates therefore come from an equi-join on
    (block_idx, block_value) — never an all-pairs product — and the
    exact hamming filter verifies collisions only. Lossless: the result
    is identical to the quadratic baseline (`simhash_pairs_allpairs`).

    The 60-bit default gives 15-bit blocks — by-chance candidates scale
    ~n²/2^block_bits, so the wide signature cuts them 128× at identical
    plan shape (measured in SCALE.md); pass bits=32 only for the frozen
    d04 oracle twin. The join key is
    (block, block-value); degenerate blocks (e.g.
    the all-zeros byte common to short docs) are hot keys — AQE
    skew-join splits them, and each candidate row is 3 longs. This is
    the shape that survives a 100× corpus.
    """
    n_blocks = max_hamming + 1
    block_bits = bits // n_blocks
    if block_bits * n_blocks != bits:
        raise ValueError(
            f"bits={bits} not divisible into {n_blocks} pigeonhole blocks"
        )
    mask = (1 << block_bits) - 1
    # materialize the signature table ONCE before the self-join: `sig`
    # usually arrives as the full tokenize→32-agg pipeline, and a lazy
    # self-join re-executes that subtree for BOTH sides (measured ~2×
    # of d04's wall-clock). The table is doc-dim (one long per doc) —
    # checkpointing it is cheap and the blocks are reclaimed when the
    # result is GC'd (same rationale as materialize_and_release).
    if not sig.isStreaming:
        sig = sig.localCheckpoint(eager=True)
    blocks = [
        sig.select(
            "doc_id",
            "simhash",
            F.lit(bi).alias("blk"),
            F.shiftright(F.col("simhash"), bi * block_bits)
            .bitwiseAND(F.lit(mask))
            .alias("bval"),
        )
        for bi in range(n_blocks)
    ]
    allb = reduce(DataFrame.unionByName, blocks)
    a, b = allb.alias("a"), allb.alias("b")
    # hamming filter BEFORE the distinct (r13): hamming is a function
    # of the pair's two signatures, so every duplicate of a pair (one
    # per colliding block) carries the same hamming — filtering first
    # returns the identical pair set while the distinct's exchange
    # shrinks from the full collision volume (2.1M rows at sf0.1) to
    # the qualified pairs (~3k). A probe-sized repartition of the
    # candidate join was measured NEGATIVE here (1.5 s base vs 2.9 s
    # repartitioned, interleaved x3 — the explosion already spreads;
    # unlike zya8 the cost was the distinct, not join serialization).
    cand = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return cand.select("doc_a", "doc_b", "hamming")


def simhash_pairs_allpairs(sig: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Quadratic baseline (test-only): the pigeonhole join above must
    return exactly this set."""
    a = sig.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha")
    )
    b = sig.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb")
    )
    return (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", F.bit_count(F.expr("ha ^ hb")))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def duplicate_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 6,
    min_run: int = 5,
    max_df: int = 50,
) -> DataFrame:
    """Cross-document duplicate SPANS — the token-granular form of
    exact-substring dedup (Lee et al., "Deduplicating Training Data
    Makes Language Models Better"): maximal runs of ≥ `min_run`
    consecutive shared word `n`-grams between two documents, i.e. a
    shared substring of ≥ n + min_run − 1 tokens. Pairwise n-gram/
    MinHash dedup misses these (a long plagiarized passage inside an
    otherwise-unique doc stays below any whole-doc Jaccard threshold);
    span detection is what catches it.

    Shape: positioned n-grams self-join on the gram (equi-join; grams
    with document frequency > `max_df` are excluded first — they are
    boilerplate, the z11 operator's territory, and would quadratically
    blow the join); a match at positions (pa, pb) lies on diagonal
    d = pa − pb, and consecutive matches on one diagonal form a run —
    detected with the classic gaps-and-islands trick (pa − row_number
    over the diagonal is constant within a run), which both engines
    evaluate identically. Returns (doc_a, doc_b, start_a, start_b,
    run_len) with run_len = number of consecutive shared n-grams.
    """
    from pyspark.sql import Window

    grams = (
        _ensure_parallelism(docs)
        .select(F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("t"))
        .select(
            "doc_id", F.posexplode(shingles(F.col("t"), n)).alias("pos", "g")
        )
        .withColumn("h", portable_hash(F.col("g")))
        .select("doc_id", "pos", "h")
        # the positioned-gram table feeds the df rollup AND both sides
        # of the self-join — persist so tokenize+shingle+hash runs once
        # (same posture as the jaccard/minhash `sh` table); released via
        # materialize_and_release before returning
        .persist()
    )
    persisted = grams
    rare = (
        grams.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") <= max_df)
        .select("h")
    )
    grams = grams.join(rare, "h", "left_semi")
    a, b = grams.alias("a"), grams.alias("b")
    # No post-join distinct: (doc_id, pos) is unique in `grams` by
    # construction (posexplode of one array per doc; doc ids unique —
    # the same sanction as the in-array shingle dedup), and each
    # (doc_a, pa) row carries exactly ONE h, so every (doc_a, doc_b,
    # pa, pb) output row arises from exactly one a-row × b-row match —
    # the join output is already distinct, and the former `.distinct()`
    # was one full exchange + two hash aggregates over the fattest
    # intermediate of the whole pipeline (guide §2.4: "a distinct on
    # data that is already unique"). The oracle keeps SELECT DISTINCT —
    # semantically identical on unique rows.
    matches = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.pos").alias("pa"),
            F.col("b.pos").alias("pb"),
        )
        .withColumn("diag", F.col("pa") - F.col("pb"))
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    out = (
        matches.withColumn("grp", F.col("pa") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(
            F.min("pa").alias("start_a"),
            F.min("pb").alias("start_b"),
            F.count(F.lit(1)).alias("run_len"),
        )
        .filter(F.col("run_len") >= min_run)
        .select("doc_a", "doc_b", "start_a", "start_b", "run_len")
    )
    return materialize_and_release(out, persisted)


def dedup_clusters(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num: int = 4,
    den: int = 5,
) -> DataFrame:
    """Near-dup CLUSTERS (the unit a pipeline actually drops documents
    by): exact-threshold Jaccard pairs via lossless prefix filtering,
    closed under transitivity with distributed connected components →
    (doc_id, component, keep) where component = min member id and
    keep marks the canonical representative. A corpus cleaner keeps
    `keep` rows and drops the rest — pairwise output alone under-deletes
    when A~B and B~C but A!~C."""
    from .graph import connected_components

    pairs = jaccard_prefix_pairs(docs, id_col, text_col, n, num, den)
    comps = connected_components(pairs, "doc_a", "doc_b")
    return comps.select(
        F.col("id").alias("doc_id"),
        "component",
        (F.col("id") == F.col("component")).alias("keep"),
    )
