"""Property-based checks for the custom distributed operators: the
scalable implementations must agree with their trivially-correct
single-node definitions on arbitrary inputs."""

from __future__ import annotations

import bisect

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

from ergo_uexplorer_spark.operators.cumulative import ordered_prefix
from ergo_uexplorer_spark.operators.dedup import (
    hashed_shingle_sets,
    jaccard_pairs,
    jaccard_prefix_pairs,
    lsh_candidates,
    minhash_lsh_pairs,
    minhash_signatures,
    shingle_sets,
    simhash,
    simhash_pairs,
    simhash_pairs_allpairs,
)
from ergo_uexplorer_spark.operators.joins import asof_join

rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=50),  # order key (dups allowed)
        st.integers(min_value=-1000, max_value=1000),  # value
    ),
    min_size=1,
    max_size=120,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=rows_strategy)
def test_ordered_prefix_equals_naive_window(spark, rows):
    """ordered_prefix (range-partitioned, boundary-corrected) ≡ the
    single-task global window on any input."""
    data = [(i, k, v) for i, (k, v) in enumerate(rows)]  # uid tiebreak
    df = spark.createDataFrame(data, "uid long, k long, v long")
    out = (
        ordered_prefix(
            df,
            order_cols=["k", "uid"],
            sum_cols={"run_v": "v"},
            lag_cols={"prev_v": "v"},
            row_col="rn",
            num_partitions=4,
        )
        .orderBy("k", "uid")
        .collect()
    )
    w = Window.orderBy("k", "uid")
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    naive = (
        df.withColumn("rn", F.row_number().over(w))
        .withColumn("run_v", F.sum("v").over(wc))
        .withColumn("prev_v", F.lag("v").over(w))
        .orderBy("k", "uid")
        .collect()
    )
    got = [(r["uid"], r["rn"], r["run_v"], r["prev_v"]) for r in out]
    want = [(r["uid"], r["rn"], r["run_v"], r["prev_v"]) for r in naive]
    assert got == want


# Adversarial shape for the boundary-correction machinery: a TINY key
# domain (0..2, so duplicate order keys straddle every range-partition
# boundary), num_partitions > rows (repartitionByRange emits EMPTY
# partitions), and nullable values (a genuine NULL previous-row value
# must survive lag — not be papered over by the boundary carry).
adversarial_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),  # order key, heavy dups
        st.one_of(st.none(), st.integers(min_value=-100, max_value=100)),
    ),
    min_size=1,
    max_size=25,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=adversarial_rows)
def test_ordered_prefix_adversarial_boundaries(spark, rows):
    """Duplicate order keys across partition boundaries + empty
    partitions + NULL values: ordered_prefix ≡ single-task window for
    row_number, running sum, lag AND strict (exclusive) prefix max."""
    data = [(i, k, v) for i, (k, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "uid long, k long, v long")
    out = (
        ordered_prefix(
            df,
            order_cols=["k", "uid"],
            sum_cols={"run_v": "v"},
            lag_cols={"prev_v": "v"},
            row_col="rn",
            strict_max_cols={"pmax_v": "v"},
            num_partitions=8,  # > max_size/3 distinct keys, often > rows
        )
        .orderBy("k", "uid")
        .collect()
    )
    w = Window.orderBy("k", "uid")
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    wx = w.rowsBetween(Window.unboundedPreceding, -1)
    naive = (
        df.withColumn("rn", F.row_number().over(w))
        .withColumn("run_v", F.sum("v").over(wc))
        .withColumn("prev_v", F.lag("v").over(w))
        .withColumn("pmax_v", F.max("v").over(wx))
        .orderBy("k", "uid")
        .collect()
    )
    cols = ("uid", "rn", "run_v", "prev_v", "pmax_v")
    got = [tuple(r[c] for c in cols) for r in out]
    want = [tuple(r[c] for c in cols) for r in naive]
    assert got == want


def test_ordered_prefix_single_row_and_constant_key(spark):
    """Degenerate totals: one row (every prefix column at its identity)
    and an all-equal order key at 8 partitions (the whole order rests on
    the uid tiebreak and the boundary carries)."""
    one = spark.createDataFrame([(0, 7, 42)], "uid long, k long, v long")
    r = ordered_prefix(
        one,
        order_cols=["k", "uid"],
        sum_cols={"run_v": "v"},
        lag_cols={"prev_v": "v"},
        row_col="rn",
        strict_max_cols={"pmax_v": "v"},
        num_partitions=8,
    ).collect()[0]
    assert (r["rn"], r["run_v"], r["prev_v"], r["pmax_v"]) == (1, 42, None, None)

    const = spark.createDataFrame(
        [(i, 0, i * 10) for i in range(9)], "uid long, k long, v long"
    )
    rows = (
        ordered_prefix(
            const,
            order_cols=["k", "uid"],
            sum_cols={"run_v": "v"},
            lag_cols={"prev_v": "v"},
            row_col="rn",
            strict_max_cols={"pmax_v": "v"},
            num_partitions=8,
        )
        .orderBy("uid")
        .collect()
    )
    for i, r in enumerate(rows):
        assert r["rn"] == i + 1
        assert r["run_v"] == sum(j * 10 for j in range(i + 1))
        assert r["prev_v"] == (None if i == 0 else (i - 1) * 10)
        assert r["pmax_v"] == (None if i == 0 else (i - 1) * 10)


asof_strategy = st.tuples(
    st.lists(  # left: (key, ts)
        st.tuples(
            st.integers(min_value=0, max_value=3),
            st.integers(min_value=0, max_value=100),
        ),
        min_size=1,
        max_size=40,
    ),
    st.lists(  # right: (key, ts, payload)
        st.tuples(
            st.integers(min_value=0, max_value=3),
            st.integers(min_value=0, max_value=100),
            st.integers(min_value=0, max_value=10**6),
        ),
        min_size=0,
        max_size=40,
    ),
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=asof_strategy)
def test_asof_join_equals_bruteforce(spark, data):
    left_rows, right_rows = data
    left = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left_rows)],
        "lid long, k long, t long",
    )
    right = spark.createDataFrame(
        right_rows or [(None, None, None)],
        "k long, t long, payload long",
    ).filter(F.col("k").isNotNull())
    out = asof_join(
        left,
        right,
        key_col="k",
        left_ts_col="t",
        right_ts_col="t",
        left_id_col="lid",
        payload_cols=["payload"],
        right_tiebreak_col="payload",
    ).collect()
    got = {r["lid"]: r["payload"] for r in out}

    # brute force: greatest (t, payload) with right.t <= left.t, same key
    by_key: dict[int, list[tuple[int, int]]] = {}
    for k, t, p in right_rows:
        by_key.setdefault(k, []).append((t, p))
    for k in by_key:
        by_key[k].sort()
    want = {}
    for i, (k, t) in enumerate(left_rows):
        cands = by_key.get(k, [])
        pos = bisect.bisect_right(cands, (t, float("inf")))
        want[i] = cands[pos - 1][1] if pos else None
    assert got == want


def test_minhash_lsh_recall_on_planted_near_dups(spark):
    """LSH candidates must contain every extreme near-dup pair (j≈0.98 ⇒
    per-band match prob ≈ 0.94, miss prob < 1e-4 over 4 bands) and never
    invent pairs that fail exact verification."""
    base = ("tok%d " % i for i in range(200))
    base_text = " ".join(f"w{i}" for i in range(200))
    docs = [(0, base_text), (1, base_text.replace("w100", "q100"))]
    docs += [(2, base_text.replace("w50", "q50").replace("w150", "q150"))]
    docs += [
        (10 + i, " ".join(f"z{i}_{j}" for j in range(50))) for i in range(5)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = minhash_lsh_pairs(df, num=4, den=5).collect()
    found = {(r["doc_a"], r["doc_b"]) for r in pairs}
    assert (0, 1) in found and (0, 2) in found and (1, 2) in found
    assert all(a < 10 and b < 10 for a, b in found)
    # verified pairs are a subset of the exact all-pairs result
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in jaccard_pairs(shingle_sets(df), 4, 5).collect()
    }
    assert found <= exact


def test_incremental_dedup_planted_and_cross_side_equivalence(spark):
    """incremental_dedup: a planted near-dup of a BASE doc is dropped
    with dup_of pointing at it, fresh docs keep, and — because minhash
    signatures/bands are per-doc (corpus-independent) — its verified
    matches equal the cross-side slice of the full-corpus
    minhash_lsh_pairs run exactly."""
    from ergo_uexplorer_spark.operators.dedup import incremental_dedup

    base_text = " ".join(f"w{i}" for i in range(200))
    base_docs = [(100, base_text)] + [
        (110 + i, " ".join(f"b{i}_{j}" for j in range(60))) for i in range(4)
    ]
    new_docs = [
        (1, base_text.replace("w100", "q100")),  # near-dup of base 100
        (2, " ".join(f"n2_{j}" for j in range(60))),  # fresh
        (3, " ".join(f"n3_{j}" for j in range(60))),  # fresh
    ]
    nd = spark.createDataFrame(new_docs, "doc_id long, text string")
    bd = spark.createDataFrame(base_docs, "doc_id long, text string")
    got = {r["doc_id"]: r for r in incremental_dedup(nd, bd).collect()}
    assert set(got) == {1, 2, 3}
    assert not got[1]["keep"] and got[1]["dup_of"] == 100
    assert got[2]["keep"] and got[2]["dup_of"] is None
    assert got[3]["keep"] and got[3]["dup_of"] is None

    # cross-side equivalence vs the one-shot full-corpus run
    full = minhash_lsh_pairs(nd.unionByName(bd), num=4, den=5).collect()
    cross = {
        (min(r["doc_a"], r["doc_b"]), max(r["doc_a"], r["doc_b"]))
        for r in full
        if (r["doc_a"] < 100) != (r["doc_b"] < 100)
    }
    incr = {
        (r["doc_id"], r["dup_of"]) for r in got.values() if r["dup_of"]
    }
    assert incr == cross


def test_group_zscore_outliers_hand_computed(spark):
    """Integer z-score inequality: one extreme among five equal values
    in a 6-row group has z = √5 ≈ 2.24 > 2 → flagged, the equal rows
    are not; a constant group (zero variance) flags nothing; and the
    exact-boundary case (one extreme among 4 equals: z = √4 = 2
    exactly) is NOT flagged — strict inequality, no float fuzz."""
    from ergo_uexplorer_spark.operators.stats import group_zscore_outliers

    rows = [(i, "a", 10) for i in range(5)] + [(5, "a", 100)]
    rows += [(i, "b", 7) for i in range(10, 14)]
    rows += [(i, "c", 10) for i in range(20, 24)] + [(24, "c", 100)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    got = {
        r["doc_id"]: r["is_outlier"]
        for r in group_zscore_outliers(
            df, "source", "n_chars", id_cols=("doc_id",)
        ).collect()
    }
    assert got[5] is True
    assert all(got[i] is False for i in range(5))
    assert all(got[i] is False for i in range(10, 14))
    # z == 2.0 exactly (√(n-1) with n=5): strictly-greater → not flagged
    assert all(got[i] is False for i in range(20, 25))


def test_token_budget_select_hand_computed(spark):
    """4 docs × 10 tokens, scores 800/600/600/200, budget 600‰ of 40 =
    24 tokens → greedy keeps doc 1 (cum 10) and doc 2 (cum 20); doc 3
    ties doc 2's score but crosses the budget (cum 30) and the id order
    breaks the tie; doc 4 never fits. At 1000‰ (no boundary — the null-
    cutoff path) everything is kept."""
    from ergo_uexplorer_spark.operators.corpus import token_budget_select

    def doc(k, n_the):
        return " ".join(["the"] * n_the + [f"d{k}w{j}" for j in range(10 - n_the)])

    docs = spark.createDataFrame(
        [(1, doc(1, 8)), (2, doc(2, 6)), (3, doc(3, 6)), (4, doc(4, 2))],
        "doc_id long, text string",
    )
    kept = {
        r["doc_id"]: r
        for r in token_budget_select(
            docs, budget_permille=600, stopwords=("the",)
        ).collect()
    }
    assert set(kept) == {1, 2}
    assert kept[1]["score"] == 800 and kept[2]["score"] == 600
    assert all(r["n_tokens"] == 10 for r in kept.values())

    all_kept = token_budget_select(
        docs, budget_permille=1000, stopwords=("the",)
    ).collect()
    assert {r["doc_id"] for r in all_kept} == {1, 2, 3, 4}


def test_semantic_dedup_planted_clusters(spark):
    """SemDeDup semantics on hand-built 4-dim vectors: near-identical
    twins in the same cell drop the larger id; a vector whose cosine to
    another EXCEEDS the threshold but whose nearest centroid differs is
    kept (cluster-scoped, not global) — the property that separates
    SemDeDup from near_dup_pairs."""
    from ergo_uexplorer_spark.operators.similarity import semantic_dedup

    cents = [[1.0, 0, 0, 0], [0, 1.0, 0, 0], [0, 0, 1.0, 0]]
    vecs = [
        (1, [1.0, 0.0, 0.0, 0.01]),  # cell 0
        (2, [1.0, 0.0, 0.0, 0.02]),  # cell 0, cos(1,2) ≈ 0.9997 → dropped
        (3, [0.0, 1.0, 0.0, 0.0]),   # cell 1, alone → kept
        (4, [0.8, 0.0, 1.0, 0.0]),   # cell 2; cos(1,4) ≈ 0.62 > T but
                                      # different cell → kept
    ]
    emb = spark.createDataFrame(
        vecs, "vec_id long, embedding array<double>"
    )
    got = {
        r["vec_id"]: r
        for r in semantic_dedup(emb, cents, threshold=0.5).collect()
    }
    assert got[1]["keep"] and got[1]["cell"] == 0
    assert not got[2]["keep"] and got[2]["cell"] == 0
    assert got[3]["keep"] and got[3]["cell"] == 1
    assert got[4]["keep"] and got[4]["cell"] == 2


def test_quality_floor_filter_hand_computed(spark):
    """Rank-based floor on controlled scores: 8 docs per group scoring
    k·100 permille (k thes out of 10 tokens) → rank ceil(8/4)=2 →
    floor=100; exactly the score-0 doc drops. A second group with all-
    equal scores keeps everything (floor == the only score)."""
    from ergo_uexplorer_spark.operators.corpus import quality_floor_filter

    rows = []
    for k in range(8):
        text = " ".join(["the"] * k + [f"g{k}w{j}" for j in range(10 - k)])
        rows.append((k, text, "a"))
    for k in range(4):
        text = " ".join(["the", "the"] + [f"h{k}w{j}" for j in range(8)])
        rows.append((100 + k, text, "b"))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    got = {
        r["doc_id"]: r
        for r in quality_floor_filter(docs, stopwords=("the",)).collect()
    }
    assert set(got) == {1, 2, 3, 4, 5, 6, 7, 100, 101, 102, 103}
    assert all(r["floor"] == 100 for r in got.values() if r["source"] == "a")
    assert all(r["floor"] == 200 for r in got.values() if r["source"] == "b")
    assert got[3]["score"] == 300


def test_chunking_coverage_properties(spark):
    """Sliding-window chunking invariants for every doc length 0..90:
    chunk count = ceil(n/stride) (0 for empty docs), chunk ids are the
    dense sequence 0..k-1, every chunk except possibly the last is full
    (min(chunk_tokens, n - start) tokens), and the windows jointly cover
    all n token positions."""
    import math

    from ergo_uexplorer_spark.operators.corpus import chunk_documents

    C, S = 40, 30
    docs = spark.createDataFrame(
        [(n, " ".join(f"w{i}" for i in range(n))) for n in range(0, 91)],
        "doc_id long, text string",
    )
    rows = chunk_documents(docs, chunk_tokens=C, stride=S).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for n in range(0, 91):
        chunks = sorted(by_doc.get(n, []), key=lambda r: r["chunk_id"])
        assert len(chunks) == (math.ceil(n / S) if n else 0), (n, chunks)
        covered = set()
        for j, c in enumerate(chunks):
            assert c["chunk_id"] == j
            start = j * S
            assert c["n_chunk_tokens"] == min(C, n - start)
            covered |= set(range(start, start + c["n_chunk_tokens"]))
        if n:
            assert covered == set(range(n)), n


def test_duplicate_spans_finds_planted_passage(spark):
    """A passage copied into an otherwise-unique document is found with
    the exact start offsets and run length, while whole-doc Jaccard at
    the same corpus misses it; unrelated docs produce no span."""
    from ergo_uexplorer_spark.operators.dedup import (
        duplicate_spans,
        jaccard_pairs,
        hashed_shingle_sets,
    )

    passage = " ".join(f"p{i}" for i in range(16))  # 16 shared tokens
    docs = spark.createDataFrame(
        [
            (0, " ".join(f"a{i}" for i in range(30)) + " " + passage),
            (1, passage + " " + " ".join(f"b{i}" for i in range(30))),
            (2, " ".join(f"c{i}" for i in range(40))),
        ],
        "doc_id long, text string",
    )
    spans = duplicate_spans(docs, n=6, min_run=5).collect()
    assert len(spans) == 1
    s = spans[0]
    # doc 0 holds the passage at token 30, doc 1 at token 0; 16 shared
    # tokens → 16 − 6 + 1 = 11 consecutive shared 6-grams
    assert (s["doc_a"], s["doc_b"]) == (0, 1)
    assert (s["start_a"], s["start_b"], s["run_len"]) == (30, 0, 11)
    # whole-doc Jaccard at the usual 0.8 threshold misses this pair
    j = jaccard_pairs(hashed_shingle_sets(docs), num=4, den=5, elem_col="h")
    assert j.count() == 0


def test_duplicate_spans_repeated_gram_within_doc(spark):
    """Every (pos_a, pos_b) match of a gram that REPEATS inside a doc is
    its own island row — pins that the r12 removal of the post-join
    distinct changed nothing (the join output was already unique): a
    passage pasted twice into doc 0 yields two runs against doc 1, each
    with the exact offsets, and run counting never double-counts."""
    from ergo_uexplorer_spark.operators.dedup import duplicate_spans

    passage = " ".join(f"p{i}" for i in range(12))  # 12 shared tokens
    filler = " ".join(f"f{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            (0, passage + " " + filler + " " + passage),  # pasted twice
            (1, passage),
        ],
        "doc_id long, text string",
    )
    spans = sorted(
        (s["start_a"], s["start_b"], s["run_len"])
        for s in duplicate_spans(docs, n=6, min_run=5).collect()
    )
    # 12 tokens → 7 consecutive 6-grams per copy; copies start at
    # tokens 0 and 22 of doc 0, both matching doc 1's tokens at 0
    assert spans == [(0, 0, 7), (22, 0, 7)]


def test_count_min_sketch_invariants(spark):
    """CMS never under-counts (est ≥ exact for every key), the sketch is
    fixed-size (≤ depth × width counters), and total per-row mass equals
    the stream length."""
    from ergo_uexplorer_spark.operators.stats import (
        CMS_DEPTH,
        CMS_WIDTH,
        cms_estimate,
        count_min_sketch,
    )

    rows = [(i % 7,) for i in range(500)] + [(99,)] * 50
    df = spark.createDataFrame(rows, "k long")
    sketch = count_min_sketch(df, "k")
    assert sketch.count() <= CMS_DEPTH * CMS_WIDTH
    per_row = {r["row"]: r["s"] for r in
               sketch.groupBy("row").agg(F.sum("c").alias("s")).collect()}
    assert all(v == len(rows) for v in per_row.values()), per_row

    est = {r["k"]: r["est"]
           for r in cms_estimate(sketch, df, "k").collect()}
    exact = {r["k"]: r["n"] for r in
             df.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert all(est[k] >= exact[k] for k in exact), (est, exact)


def test_decontaminate_invariants(spark):
    """Planted contamination is found with the right gram count; clean
    docs and eval docs never appear in the output."""
    from ergo_uexplorer_spark.operators.corpus import decontaminate

    eval_text = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (0, eval_text),  # eval member
            (1, "x1 x2 alpha beta gamma delta x3 x4"),  # one 4-gram hit
            (2, "clean words only nothing shared here at all"),
            (3, eval_text + " tail1 tail2"),  # contains all 5 eval grams
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["n_eval_grams"]
        for r in decontaminate(docs, F.col("doc_id") == 0, n=4).collect()
    }
    assert out == {1: 1, 3: 5}


def test_mixture_weights_invariants(spark):
    """Mixture planning never upsamples (rate ≤ 1000, need ≤ avail), the
    binding source is sampled at ~full rate, and need_s/target_s stays
    proportional across sources (within the div-truncation unit)."""
    from ergo_uexplorer_spark.operators.curation import mixture_weights

    avail = spark.createDataFrame(
        [("a", 1000), ("b", 10_000), ("c", 100_000)],
        "source string, avail long",
    )
    rows = {
        r["source"]: r
        for r in mixture_weights(
            avail, {"a": 100, "b": 300, "c": 600}
        ).collect()
    }
    assert set(rows) == {"a", "b", "c"}
    for r in rows.values():
        assert 0 <= r["rate_permille"] <= 1000
        assert r["need_tokens"] <= r["avail"]
    # n_max = min(1000*1000/100, 10000*1000/300, 100000*1000/600) = 10000
    assert rows["a"]["need_tokens"] == 1000  # binding source, fully used
    assert rows["a"]["rate_permille"] == 1000
    assert rows["b"]["need_tokens"] == 3000
    assert rows["c"]["need_tokens"] == 6000

    # a TARGETED source absent from the corpus makes its share
    # unservable: the budget collapses to 0 and the source still
    # appears in the plan (avail 0) instead of silently vanishing
    rows = {
        r["source"]: r
        for r in mixture_weights(
            avail, {"a": 500, "missing": 500}
        ).collect()
    }
    assert set(rows) == {"a", "missing"}
    assert rows["missing"]["avail"] == 0
    assert all(r["need_tokens"] == 0 and r["rate_permille"] == 0
               for r in rows.values())


def test_stratified_sample_deterministic_and_bounded(spark):
    """Keep decision is a pure id function: re-running and re-ordering
    give the identical kept set; realized per-stratum rates stay near
    the configured permille."""
    from ergo_uexplorer_spark.operators.curation import stratified_sample

    docs = spark.createDataFrame(
        [(i, "en" if i % 3 else "de") for i in range(3000)],
        "doc_id long, lang string",
    )
    kept1 = {r["doc_id"] for r in
             stratified_sample(docs, {"en": 200}, 900).collect()}
    kept2 = {r["doc_id"] for r in
             stratified_sample(docs.orderBy(F.desc("doc_id")),
                               {"en": 200}, 900).collect()}
    assert kept1 == kept2
    en_total = 2000
    en_kept = sum(1 for d in kept1 if d % 3)
    assert abs(en_kept / en_total - 0.2) < 0.05


def test_clean_corpus_invariants(spark):
    """Composition invariants: kept ⊆ canonical reps, no near-dup pair
    survives intact, all kept docs meet the token floor, and a corpus
    with no dups keeps everything above the floor."""
    from ergo_uexplorer_spark.operators.corpus import clean_corpus

    base = " ".join(f"w{i}" for i in range(50))
    docs = [
        (0, base),
        (1, base),  # exact dup of 0 → dropped
        (2, base.replace("w10", "q10")),  # near-dup of 0 → dropped (larger id)
        (3, "short doc"),  # under token floor → dropped
        (4, " ".join(f"u{i}" for i in range(30))),  # unique → kept
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    kept = {r["doc_id"] for r in clean_corpus(df, min_tokens=10).collect()}
    assert kept == {0, 4}

    unique_docs = [
        (i, " ".join(f"v{i}_{j}" for j in range(20))) for i in range(6)
    ]
    df2 = spark.createDataFrame(unique_docs, "doc_id long, text string")
    assert {r["doc_id"] for r in clean_corpus(df2, min_tokens=10).collect()} == set(
        range(6)
    )


def _dup_heavy_docs(spark, n_uniques: int = 12):
    """A corpus with exact dups, 1–2 token edits, and unrelated docs —
    exercises hamming 0..3+ and Jaccard bands around the threshold."""
    base = " ".join(f"w{i}" for i in range(60))
    docs = [
        (0, base),
        (1, base),
        (2, base.replace("w10", "q10")),
        (3, base.replace("w10", "q10").replace("w20", "q20")),
        (4, base.replace("w1", "a1").replace("w2", "a2").replace("w3", "a3")),
    ]
    docs += [
        (10 + i, " ".join(f"u{i}_{j}" for j in range(40)))
        for i in range(n_uniques)
    ]
    return spark.createDataFrame(docs, "doc_id long, text string")


def test_simhash_pigeonhole_equals_allpairs(spark):
    """The block-join candidate generation is lossless: identical result
    set to the quadratic baseline for every max_hamming ≤ 3."""
    df = _dup_heavy_docs(spark)
    sig = simhash(df).persist()
    for mh in (0, 1, 3):
        fast = {
            (r["doc_a"], r["doc_b"], r["hamming"])
            for r in simhash_pairs(sig, max_hamming=mh).collect()
        }
        slow = {
            (r["doc_a"], r["doc_b"], r["hamming"])
            for r in simhash_pairs_allpairs(sig, max_hamming=mh).collect()
        }
        assert fast == slow, f"pigeonhole mismatch at max_hamming={mh}"


def test_simhash60_pigeonhole_equals_allpairs(spark):
    """The 60-bit scale-width twin is equally lossless: 15-bit blocks,
    same pigeonhole guarantee, identical to its quadratic baseline
    (divisibility requires max_hamming ∈ {0, 1, 2, 3, 4, 5, ...} with
    bits % (mh+1) == 0 — 60 divides evenly for all of these)."""
    df = _dup_heavy_docs(spark)
    sig = simhash(df, bits=60).persist()
    for mh in (0, 1, 2, 3):
        fast = {
            (r["doc_a"], r["doc_b"], r["hamming"])
            for r in simhash_pairs(sig, max_hamming=mh, bits=60).collect()
        }
        slow = {
            (r["doc_a"], r["doc_b"], r["hamming"])
            for r in simhash_pairs_allpairs(sig, max_hamming=mh).collect()
        }
        assert fast == slow, f"60-bit pigeonhole mismatch at mh={mh}"


def test_jaccard_prefix_filter_equals_allpairs(spark):
    """Prefix filtering is lossless: exact same verified pairs as the
    quadratic join over the same hashed shingle sets."""
    df = _dup_heavy_docs(spark)
    fast = {
        (r["doc_a"], r["doc_b"], r["shared"], r["na"], r["nb"])
        for r in jaccard_prefix_pairs(df, num=4, den=5).collect()
    }
    slow = {
        (r["doc_a"], r["doc_b"], r["shared"], r["na"], r["nb"])
        for r in jaccard_pairs(hashed_shingle_sets(df), 4, 5, elem_col="h").collect()
    }
    assert fast == slow
    assert (0, 1) in {(a, b) for a, b, *_ in fast}  # exact dup found


def test_near_dup_bucketed_subset_and_recall(spark):
    """Banded-LSH near-dup pairs ⊆ exact all-pairs; planted near-identical
    vectors (cos ≈ 1 ⇒ per-band collision ≈ 1) are always recovered."""
    import random as _r

    from ergo_uexplorer_spark.operators.similarity import (
        near_dup_pairs,
        near_dup_pairs_allpairs,
    )

    rng = _r.Random(5)
    base = [rng.gauss(0, 1) for _ in range(64)]
    near = list(base)
    near[0] += 0.01  # cos ≈ 1.0
    vecs = [(0, base), (1, near)]
    vecs += [(10 + i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(20)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    fast = {
        (r["vec_a"], r["vec_b"])
        for r in near_dup_pairs(df, threshold=0.9).collect()
    }
    slow = {
        (r["vec_a"], r["vec_b"])
        for r in near_dup_pairs_allpairs(df, threshold=0.9).collect()
    }
    assert fast <= slow
    assert (0, 1) in fast  # the planted near-dup survives bucketing


def test_simhash_arrow_kernel_equals_agg_twin(spark, monkeypatch):
    """The r12 Arrow signature kernel is bit-identical to the historical
    explode + conditional-sum groupBy (`_simhash_agg`) on a hostile
    corpus — NULL text, empty text, whitespace-only, single token,
    unicode, and a long doc — at both signature widths, and the
    multi-chunk kernel path (chunk cap shrunk to 7 tokens) agrees with
    the single-chunk one."""
    from ergo_uexplorer_spark.operators import dedup as D

    docs = [
        (0, None),
        (1, ""),
        (2, "   "),
        (3, "one"),
        (4, "alpha beta gamma delta"),
        (5, "ALPHA beta GAMMA delta"),  # same token set as 4
        (6, "naïve café χ ψ ω 北京 🚀 mixed"),
        (7, " ".join(f"tok{i}" for i in range(97))),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for bits in (32, 60):
        want = sorted(
            tuple(r) for r in D._simhash_agg(df, bits=bits).collect()
        )
        got = sorted(tuple(r) for r in D.simhash(df, bits=bits).collect())
        assert got == want, f"kernel != agg twin at bits={bits}"
        # docs 0–2 have no tokens: absent from BOTH forms
        ids = {t[0] for t in got}
        assert ids == {3, 4, 5, 6, 7}
        assert dict(got)[4] == dict(got)[5]
    monkeypatch.setattr(D, "SIMHASH_KERNEL_CHUNK_VALS", 7)
    chunked = sorted(tuple(r) for r in D.simhash(df, bits=60).collect())
    monkeypatch.undo()
    assert chunked == sorted(tuple(r) for r in D.simhash(df, bits=60).collect())


def test_simhash_identical_docs_zero_hamming(spark):
    docs = [(0, "alpha beta gamma delta"), (1, "alpha beta gamma delta"),
            (2, "totally different words entirely")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sig = {r["doc_id"]: r["simhash"] for r in simhash(df).collect()}
    assert sig[0] == sig[1]
    pairs = simhash_pairs(simhash(df), max_hamming=0).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in pairs} == {(0, 1)}


def test_decode_utf8_register_sql_equals_column(spark):
    """The one-py4j-call SQL form of decode_utf8_register is pinned
    identical to the Column form on hostile inputs: valid 1- and 2-byte
    VLQ payloads, wrong type code, truncated payload, overlong declared
    length, non-UTF8 bytes, odd hex, empty, NULL, uppercase hex, and a
    >1000-byte payload (the MaxStringLen refusal)."""
    from pyspark.sql import functions as F

    from ergo_uexplorer_spark.functions.crypto import decode_utf8_register

    def enc(payload: bytes) -> str:
        n = len(payload)
        vlq = bytes([n]) if n < 128 else bytes([(n & 0x7F) | 0x80, n >> 7])
        return "0e" + vlq.hex() + payload.hex()

    vals = [
        enc(b"hello"),
        enc("naïve £ 🚀".encode()),
        enc(b""),
        enc(b"x" * 200),  # 2-byte VLQ
        enc(b"y" * 1001),  # past MaxStringLen → NULL
        enc(b"ok")[:-2],  # truncated payload
        enc(b"ok") + "ff",  # trailing bytes
        "0e05" + (b"\xff\xfe\xfd\xfc\xfb").hex(),  # invalid UTF-8
        "0480",  # wrong type code
        "0e",  # no VLQ at all
        "0e8",  # odd hex length
        enc(b"UPPER").upper(),
        "",
        None,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "r string")
    got = df.select(
        decode_utf8_register("r").alias("s"),
        decode_utf8_register(F.col("r")).alias("c"),
    ).collect()
    for v, row in zip(vals, got):
        assert row["s"] == row["c"], (v, row["s"], row["c"])
    # sanity: the happy path actually decodes
    assert got[0]["s"] == "hello" and got[1]["s"] == "naïve £ 🚀"


# ---------------------------------------------------------------------------
# SigmaType decoder: random nested constants round-trip (pure Python, no
# Spark) — a reference-side recursive serializer built HERE from the
# TypeSerializer/DataSerializer wire rules generates arbitrary nested
# values; functions/crypto._decode_register must invert them exactly.
# ---------------------------------------------------------------------------
def _ser_vlq(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        out.append(b | (0x80 if n else 0))
        if not n:
            return bytes(out)


def _ser_zz(v: int) -> bytes:
    return _ser_vlq(((v << 1) ^ (v >> 63)) & ((1 << 64) - 1))


_PRIMS = {3: "SShort", 4: "SInt", 5: "SLong"}  # zigzag-vlq numerics


def _type_strategy():
    prim = st.sampled_from(list(_PRIMS))
    return st.recursive(
        prim.map(lambda p: ("prim", p)),
        lambda inner: st.one_of(
            inner.map(lambda t: ("Coll", t)),
            inner.map(lambda t: ("Option", t)),
            st.lists(inner, min_size=2, max_size=6).map(
                lambda ts: ("Tuple", ts)
            ),
        ),
        max_leaves=6,
    )


def _gen_value(draw, t):
    kind = t[0]
    if kind == "prim":
        lo, hi = (-(2**31), 2**31 - 1) if t[1] == 4 else (
            (-(2**15), 2**15 - 1) if t[1] == 3 else (-(2**62), 2**62 - 1)
        )
        return draw(st.integers(lo, hi))
    if kind == "Coll":
        return [
            _gen_value(draw, t[1])
            for _ in range(draw(st.integers(0, 3)))
        ]
    if kind == "Option":
        return None if draw(st.booleans()) else _gen_value(draw, t[1])
    return [_gen_value(draw, sub) for sub in t[1]]


def _ser_type(t) -> bytes:
    kind = t[0]
    if kind == "prim":
        return bytes([t[1]])
    if kind == "Coll":
        inner = t[1]
        if inner[0] == "prim":
            return bytes([12 + inner[1]])
        return bytes([12]) + _ser_type(inner)
    if kind == "Option":
        inner = t[1]
        if inner[0] == "prim":
            return bytes([36 + inner[1]])
        return bytes([36]) + _ser_type(inner)
    ts = t[1]
    if len(ts) == 2 and ts[0] == ts[1] and ts[0][0] == "prim":
        return bytes([84 + ts[0][1]])  # symmetric embeddable pair
    if len(ts) == 2 and ts[0][0] == "prim":
        return bytes([60 + ts[0][1]]) + _ser_type(ts[1])  # Pair1
    if len(ts) == 3:  # TripleTypeCode 0x48: three component types follow
        return bytes([72]) + b"".join(_ser_type(x) for x in ts)
    if len(ts) == 4:  # QuadrupleTypeCode 0x54: four component types
        return bytes([84]) + b"".join(_ser_type(x) for x in ts)
    return bytes([96, len(ts)]) + b"".join(_ser_type(x) for x in ts)


def _ser_data(t, v) -> bytes:
    kind = t[0]
    if kind == "prim":
        return _ser_zz(v)
    if kind == "Coll":
        return _ser_vlq(len(v)) + b"".join(_ser_data(t[1], x) for x in v)
    if kind == "Option":
        return b"\x00" if v is None else b"\x01" + _ser_data(t[1], v)
    return b"".join(_ser_data(sub, x) for sub, x in zip(t[1], v))


def _render(t, v) -> str:
    kind = t[0]
    if kind == "prim":
        return str(v)
    if kind == "Coll":
        return "[" + ",".join(_render(t[1], x) for x in v) + "]"
    if kind == "Option":
        return "null" if v is None else _render(t[1], v)
    return "[" + ",".join(_render(s, x) for s, x in zip(t[1], v)) + "]"


def _tname(t) -> str:
    kind = t[0]
    if kind == "prim":
        return _PRIMS[t[1]]
    if kind == "Coll":
        return f"Coll[{_tname(t[1])}]"
    if kind == "Option":
        return f"Option[{_tname(t[1])}]"
    return "(" + ", ".join(_tname(x) for x in t[1]) + ")"


@settings(max_examples=200, deadline=None)
@given(st.data())
def test_sigma_decoder_roundtrip_random_nested(data):
    from ergo_uexplorer_spark.functions.crypto import _decode_register

    t = data.draw(_type_strategy())
    v = _gen_value(data.draw, t)
    raw = (_ser_type(t) + _ser_data(t, v)).hex()
    got = _decode_register(raw)
    assert got == (_tname(t), _render(t, v)), (t, v, raw)


def test_containment_prefix_filter_equals_allpairs(spark):
    """Containment prefix⋈full filtering is lossless: exact same verified
    pairs as the quadratic containment join over the same hashed shingle
    sets — at two thresholds (the bound must hold for any num/den)."""
    from ergo_uexplorer_spark.operators.dedup import (
        containment_pairs,
        containment_prefix_pairs,
    )

    df = _dup_heavy_docs(spark)
    for num, den in ((9, 10), (3, 5)):
        fast = {
            tuple(r) for r in containment_prefix_pairs(
                df, num=num, den=den
            ).collect()
        }
        slow = {
            tuple(r) for r in containment_pairs(
                hashed_shingle_sets(df), num, den, elem_col="h"
            ).collect()
        }
        assert fast == slow, f"containment prefix mismatch at {num}/{den}"


def test_containment_catches_subset_quote_jaccard_misses(spark):
    """The differentiator containment exists for: a short doc embedded
    verbatim inside a much longer one has containment 1.0 but Jaccard far
    below 0.8 — jaccard_prefix_pairs must NOT report it, containment must."""
    from ergo_uexplorer_spark.operators.dedup import containment_prefix_pairs

    quote = " ".join(f"q{i}" for i in range(12))
    article = (
        " ".join(f"w{i}" for i in range(60))
        + " " + quote + " "
        + " ".join(f"v{i}" for i in range(60))
    )
    df = spark.createDataFrame(
        [(1, quote), (2, article)], "doc_id long, text string"
    )
    cont = containment_prefix_pairs(df, num=9, den=10).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in cont] == [(1, 2)]
    assert cont[0]["cont_permille"] == 1000  # every quote shingle shared
    jac = jaccard_prefix_pairs(df, num=4, den=5).collect()
    assert jac == []


mad_values = st.lists(
    st.integers(min_value=-10**7, max_value=10**7), min_size=1, max_size=60
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vals=mad_values)
def test_doubled_median_and_mad_are_exact_integers(spark, vals):
    """The z39 exactness claim on arbitrary int inputs: 2·percentile(x,
    0.5) equals the exact doubled median (sum of the two middle order
    statistics) as an int64 — no FP residue — and the derived MAD
    quantities match a pure-Python reference."""
    import statistics

    df = spark.createDataFrame([(v,) for v in vals], "c long")
    med2 = df.selectExpr(
        "CAST(2 * percentile(c, 0.5) AS BIGINT) AS m"
    ).first()["m"]
    srt = sorted(vals)
    n = len(srt)
    exact2 = (
        2 * srt[n // 2] if n % 2 else srt[n // 2 - 1] + srt[n // 2]
    )
    assert med2 == exact2

    dev2 = sorted(abs(2 * v - med2) for v in vals)
    mad4 = (
        2 * dev2[n // 2] if n % 2 else dev2[n // 2 - 1] + dev2[n // 2]
    )
    got_mad4 = (
        df.selectExpr(f"abs(2 * c - {med2}) AS d")
        .selectExpr("CAST(2 * percentile(d, 0.5) AS BIGINT) AS m")
        .first()["m"]
    )
    assert got_mad4 == mad4
    # sanity vs statistics.median (float) on the halved quantities
    assert med2 / 2 == statistics.median(vals)


gini_docs = st.lists(
    st.integers(min_value=0, max_value=10_000), min_size=2, max_size=50
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(lens=gini_docs)
def test_source_gini_matches_bruteforce(spark, lens):
    """z48's rank formula vs the O(n²) mean-absolute-difference Gini
    definition: floor(1000·G) must agree exactly whenever Σx > 0, and
    Σi·xᵢ must be invariant to tie order (the formula's determinism
    claim)."""
    from hypothesis import assume

    from ergo_uexplorer_spark.suite import REGISTRY  # noqa: F401

    assume(sum(lens) > 0)
    n = len(lens)
    srt = sorted(lens)
    s0 = sum(srt)
    s1 = sum((i + 1) * x for i, x in enumerate(srt))
    formula = (1000 * (2 * s1 - (n + 1) * s0)) // (n * s0)
    # brute force: G = Σᵢⱼ|xᵢ−xⱼ| / (2n²·mean) = Σᵢⱼ|xᵢ−xⱼ| / (2n·Σx)
    num = sum(abs(a - b) for a in lens for b in lens)
    brute = (1000 * num) // (2 * n * s0)
    assert formula == brute

    rows = [("s", v, i) for i, v in enumerate(lens)]
    df = spark.createDataFrame(rows, "source string, n_chars long, doc_id long")
    from ergo_uexplorer_spark.suite.extras import z48_source_gini  # noqa: F401
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("source").orderBy(F.asc("v"), F.asc("doc_id"))
    r = df.select(
        "source", F.col("n_chars").alias("v"), "doc_id"
    ).withColumn("i", F.row_number().over(w))
    got = (
        r.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("v").alias("total_chars"),
            F.sum(F.col("i").cast("long") * F.col("v")).alias("__s1"),
        )
        .selectExpr(
            "CAST((1000 * (2 * __s1 - (n_docs + 1) * total_chars))"
            " div (n_docs * total_chars) AS BIGINT) AS g"
        )
        .first()["g"]
    )
    assert got == formula


def test_spearman_exact_endpoints_and_monotone_invariance(spark):
    """Perfectly concordant group → rho_ppm exactly 1_000_000; the
    exact reversal → exactly −1_000_000 (Σd² = n(n²−1)/3); and rho
    depends only on rank order, so any strictly monotone transform of
    x leaves it unchanged."""
    from pyspark.sql import functions as F

    from ergo_uexplorer_spark.operators.stats import spearman_by_group

    rows = [("up", i, 10 + i, 5 * i) for i in range(1, 9)]
    rows += [("down", i, 10 + i, -3 * i) for i in range(1, 9)]
    df = spark.createDataFrame(rows, "g string, k long, x long, y long")
    got = {
        r["g"]: r
        for r in spearman_by_group(df, "g", "x", "y", "k").collect()
    }
    assert got["up"]["rho_ppm"] == 1_000_000
    assert got["down"]["rho_ppm"] == -1_000_000
    assert got["down"]["sum_d2"] == 8 * (64 - 1) // 3
    transformed = df.withColumn("x", F.col("x") * 7 + 3)
    got2 = {
        r["g"]: r["rho_ppm"]
        for r in spearman_by_group(transformed, "g", "x", "y", "k").collect()
    }
    assert got2 == {g: r["rho_ppm"] for g, r in got.items()}


def test_ngram_novelty_duplicate_corpus(spark):
    """The lowest-id copy of a text owns all its grams (novelty 1000);
    an exact later copy owns none (novelty 0); a half-overlapping later
    doc sits strictly between."""
    from ergo_uexplorer_spark.operators.corpus import ngram_novelty

    text = " ".join(f"w{i}" for i in range(40))
    half_new = " ".join(f"w{i}" for i in range(20)) + " " + " ".join(
        f"x{i}" for i in range(20)
    )
    df = spark.createDataFrame(
        [(1, text), (2, text), (3, half_new)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in ngram_novelty(df).collect()}
    assert got[1]["novelty_permille"] == 1000
    assert got[2]["novelty_permille"] == 0
    assert 0 < got[3]["novelty_permille"] < 1000


def test_dsir_importance_identical_docs_and_sign(spark):
    """Docs with identical text get identical (n_grams, score); a doc
    written purely in the target sublanguage scores strictly higher
    than one written purely outside it (its buckets are target-heavy)."""
    from pyspark.sql import functions as F

    from ergo_uexplorer_spark.operators.corpus import hashed_ngram_importance

    t_text = " ".join(f"t{i}" for i in range(50))
    r_text = " ".join(f"r{i}" for i in range(50))
    df = spark.createDataFrame(
        [
            (1, t_text, "en"),
            (2, t_text, "de"),  # same text, non-target label
            (3, r_text, "de"),
            (4, r_text, "de"),
            (5, r_text, "de"),
        ],
        "doc_id long, text string, lang string",
    )
    got = {
        r["doc_id"]: r
        for r in hashed_ngram_importance(
            df, target_filter=F.col("lang") == F.lit("en")
        ).collect()
    }
    assert (got[1]["n_grams"], got[1]["score"]) == (
        got[2]["n_grams"],
        got[2]["score"],
    )
    assert got[1]["score"] > got[3]["score"]


# ---------------------------------------------------------------------------
# round-7 operators: exact EWMA and linear interpolation invariants
# ---------------------------------------------------------------------------

ewma_series = st.lists(
    st.integers(min_value=0, max_value=10**9), min_size=1, max_size=40
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vals=ewma_series)
def test_ewma_bounded_and_matches_loop(spark, vals):
    """ewma_int ≡ the per-row Python recurrence, and every state lies
    within [min(prefix), max(prefix)] (a convex combination rounded
    down can undershoot by < 1 unit — div truncation — hence the -1)."""
    from ergo_uexplorer_spark.operators.cumulative import ewma_int

    df = spark.createDataFrame(
        [(0, i, v) for i, v in enumerate(vals)], "g long, t long, v long"
    )
    row = ewma_int(df, "g", ["t"], "v", a_num=1, a_den=4).collect()[0]
    s = vals[0]
    for v in vals[1:]:
        s = (v + 3 * s) // 4
    assert (row.n, row.ewma) == (len(vals), s)
    assert min(vals) - 1 <= row.ewma <= max(vals)


interp_obs = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=200),  # bucket
        st.integers(min_value=0, max_value=10**6),  # value
    ),
    min_size=1,
    max_size=25,
    unique_by=lambda t: t[0],
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(obs=interp_obs)
def test_linear_interpolate_invariants(spark, obs):
    """Grid covers exactly [min,max]; observed rows pass through
    untouched; every interpolated value lies within [min, max] of its
    bracketing observations and the full dense series is produced."""
    from ergo_uexplorer_spark.operators.joins import linear_interpolate

    df = spark.createDataFrame(
        [(1, b, v) for b, v in obs], "k long, b long, v long"
    )
    out = sorted(
        linear_interpolate(df, "k", "b", "v").collect(),
        key=lambda r: r.b,
    )
    buckets = [b for b, _ in obs]
    lo, hi = min(buckets), max(buckets)
    assert [r.b for r in out] == list(range(lo, hi + 1))
    by_bucket = dict(obs)
    prev = None
    for r in out:
        if r.b in by_bucket:
            assert r.observed and r.v == by_bucket[r.b]
            prev = (r.b, r.v)
        else:
            assert not r.observed
            nxt = min(
                (b, v) for b, v in obs if b > r.b
            )
            lo_v, hi_v = sorted((prev[1], nxt[1]))
            assert lo_v - 1 <= r.v <= hi_v


interval_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=200),  # start
        st.integers(min_value=1, max_value=60),  # length
    ),
    min_size=1,
    max_size=80,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ivs=interval_strategy)
def test_peak_concurrency_equals_naive_sweep(spark, ivs):
    """Distributed sweep line (ordered_prefix running sum) ≡ the
    single-threaded sweep on arbitrary interval sets, including heavy
    boundary ties and fully-nested intervals."""
    from ergo_uexplorer_spark.operators.intervals import peak_concurrency

    intervals = [(s, s + ln) for s, ln in ivs]
    df = spark.createDataFrame(intervals, "st long, en long")
    r = peak_concurrency(df, "st", "en").collect()[0]

    pts = sorted(
        [(s, 1) for s, _ in intervals] + [(e, -1) for _, e in intervals]
    )
    cum, peak, at = 0, None, None
    for t, d in pts:
        cum += d
        if peak is None or cum > peak:
            peak, at = cum, t
    assert (r.peak, r.ts_at_peak) == (peak, at)


changes_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=12),  # key
        st.integers(min_value=0, max_value=40),  # ts (ties likely)
        st.sampled_from(["i", "u", "d"]),
        st.integers(min_value=0, max_value=999),
    ),
    min_size=1,
    max_size=120,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=changes_strategy)
def test_cdc_latest_snapshot_equals_naive_replay(spark, rows):
    """max_by-based latest-wins ≡ sequential per-key replay, including
    delete-then-resurrect chains and timestamp ties (tiebreak = event
    index)."""
    from ergo_uexplorer_spark.operators.cdc import latest_snapshot

    data = [(k, ts, i, op, v) for i, (k, ts, op, v) in enumerate(rows)]
    df = spark.createDataFrame(
        data, "k long, ts long, eid long, op string, v long"
    )
    got = {
        r.k: (r.last_op, r.last_v, r.n_changes)
        for r in latest_snapshot(
            df, "k", ["ts", "eid"], "op", ("d",), ["v"]
        ).collect()
    }
    state, counts = {}, {}
    for k, ts, eid, op, v in sorted(data, key=lambda r: (r[0], r[1], r[2])):
        state[k] = (op, v)
        counts[k] = counts.get(k, 0) + 1
    want = {
        k: (op, v, counts[k])
        for k, (op, v) in state.items()
        if op != "d"
    }
    assert got == want


# ---------------------------------------------------------------------------
# char_collision_stats: the zero-shuffle fold vs the naive explode+groupBy
# on adversarial text (repeats, unicode, whitespace runs, empties)
# ---------------------------------------------------------------------------
_char_alphabet = st.sampled_from(list("ab xy\t.é漢🙂") + ["ss"])
_texts = st.lists(
    st.lists(_char_alphabet, min_size=0, max_size=40).map("".join),
    min_size=1,
    max_size=25,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=_texts)
def test_char_collision_stats_equals_python_counter(spark, texts):
    """The codegen fold must reproduce collections.Counter exactly for
    every doc — including multi-codepoint text, whitespace runs, and
    empty strings (n=0 rows, not nulls)."""
    from collections import Counter

    from ergo_uexplorer_spark.operators.textops import char_collision_stats

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in char_collision_stats(docs).collect()}
    assert len(got) == len(texts)
    for i, t in enumerate(texts):
        c = Counter(t)
        r = got[i]
        assert r["n_chars"] == len(t), (t, r)
        assert r["n_distinct"] == len(c), (t, r)
        assert r["sum_sq"] == sum(k * k for k in c.values()), (t, r)


# ---------------------------------------------------------------------------
# array-form shingle/signature primitives: the round-8 rewrite must be
# set-identical to the row-form originals on adversarial text
# ---------------------------------------------------------------------------
_arr_texts = st.lists(
    st.lists(
        st.sampled_from(["w1", "w2", "w3", "α", "b", "", "x y"]),
        min_size=0,
        max_size=20,
    ).map(" ".join),
    min_size=1,
    max_size=12,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=_arr_texts)
def test_hashed_shingle_arrays_equal_row_form(spark, texts):
    """hashed_shingle_arrays is the row-form hashed_shingle_sets as a
    sorted distinct array — per doc, the SAME set in ascending order,
    including docs with < n tokens (empty array vs zero rows)."""
    from ergo_uexplorer_spark.operators.dedup import hashed_shingle_arrays

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    arr = {
        r["doc_id"]: r["hs"]
        for r in hashed_shingle_arrays(docs).collect()
    }
    rows: dict[int, set] = {}
    for r in hashed_shingle_sets(docs).collect():
        rows.setdefault(r["doc_id"], set()).add(r["h"])
    assert set(arr) == set(range(len(texts)))
    for i in range(len(texts)):
        want = sorted(rows.get(i, set()))
        assert arr[i] == want, (texts[i], arr[i], want)


def test_minhash_signatures_from_arrays_equal_groupby_form(spark):
    """Zero-shuffle array signatures == the groupBy signatures row for
    row (same hash family over the same distinct sets); docs with no
    shingles appear in neither."""
    from ergo_uexplorer_spark.operators.dedup import (
        hashed_shingle_arrays,
        minhash_signatures_from_arrays,
    )

    df = _dup_heavy_docs(spark)
    df = df.unionByName(
        spark.createDataFrame([(99, "one two")], "doc_id long, text string")
    )  # < n tokens: no shingles, must drop out of both forms
    got = {
        r["doc_id"]: tuple(r[f"mh{i}"] for i in range(12))
        for r in minhash_signatures_from_arrays(
            hashed_shingle_arrays(df)
        ).collect()
    }
    want = {
        r["doc_id"]: tuple(r[f"mh{i}"] for i in range(12))
        for r in minhash_signatures(hashed_shingle_sets(df)).collect()
    }
    assert got == want
    assert 99 not in got


def test_incremental_exact_screen_lossless_and_superset_of_minhash(spark):
    """incremental_jaccard_exact: (a) decisions equal the brute-force
    cross-side Jaccard over hashed shingle sets (the prefix filters are
    lossless across corpora too); (b) its dup set is a SUPERSET of the
    MinHash screen's (LSH may miss near-threshold pairs, the exact
    screen may not); (c) a planted near-threshold pair (J just above
    0.8) is caught."""
    from ergo_uexplorer_spark.operators.dedup import (
        hashed_shingle_sets,
        incremental_dedup,
        incremental_jaccard_exact,
    )

    base_text = " ".join(f"w{i}" for i in range(200))
    # near-threshold copy: change enough trailing tokens that Jaccard
    # sits just above 0.8 (each changed token kills ~3 shingles)
    near = " ".join(
        f"w{i}" if i < 193 else f"q{i}" for i in range(200)
    )
    bd = spark.createDataFrame(
        [(100, base_text)]
        + [(110 + i, " ".join(f"b{i}_{j}" for j in range(60))) for i in range(4)],
        "doc_id long, text string",
    )
    nd = spark.createDataFrame(
        [(1, near), (2, " ".join(f"n2_{j}" for j in range(60)))],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r for r in incremental_jaccard_exact(nd, bd).collect()
    }
    assert set(got) == {1, 2}

    # (a) brute-force cross-side truth from the hashed shingle sets
    hn = hashed_shingle_sets(nd).alias("a")
    hb = hashed_shingle_sets(bd).alias("b")
    shared = (
        hn.join(hb, F.col("a.h") == F.col("b.h"))
        .groupBy(
            F.col("a.doc_id").alias("new_id"),
            F.col("b.doc_id").alias("base_id"),
        )
        .count()
    )
    nn = hashed_shingle_sets(nd).groupBy("doc_id").count()
    nb = hashed_shingle_sets(bd).groupBy("doc_id").count()
    truth = set()
    nn_m = {r["doc_id"]: r["count"] for r in nn.collect()}
    nb_m = {r["doc_id"]: r["count"] for r in nb.collect()}
    for r in shared.collect():
        s, a, b = r["count"], nn_m[r["new_id"]], nb_m[r["base_id"]]
        if 5 * s >= 4 * (a + b - s):
            truth.add((r["new_id"], r["base_id"]))
    got_pairs = {
        (r["doc_id"], r["dup_of"]) for r in got.values() if r["dup_of"]
    }
    want_pairs = {
        (n, min(b for nn2, b in truth if nn2 == n))
        for n in {n for n, _ in truth}
    }
    assert got_pairs == want_pairs
    assert (1, 100) in got_pairs  # (c) the near-threshold pair is caught

    # (b) exact screen never keeps a doc the MinHash screen drops
    mh = {
        r["doc_id"]
        for r in incremental_dedup(nd, bd).collect()
        if not r["keep"]
    }
    exact_drops = {r["doc_id"] for r in got.values() if not r["keep"]}
    assert mh <= exact_drops


# ---------------------------------------------------------------------------
# register decoder total-function property: arbitrary byte blobs (the
# sandbox for every register value an untrusted chain can serve) must
# decode to (type, rendered) or None — NEVER raise. An exception here
# would kill the executor task for the whole partition, so the
# fallback-to-raw-hex contract (RegistersParser.scala:80-88) is a
# scale-robustness property, not a convenience.
# ---------------------------------------------------------------------------
@settings(max_examples=400, deadline=None)
@given(st.binary(min_size=0, max_size=80))
def test_decode_register_never_raises(blob):
    from ergo_uexplorer_spark.functions.crypto import _decode_register

    out = _decode_register(blob.hex())
    assert out is None or (
        isinstance(out, tuple)
        and len(out) == 2
        and all(isinstance(x, str) for x in out)
    )


@settings(max_examples=100, deadline=None)
@given(st.binary(min_size=1, max_size=40))
def test_decode_register_valid_prefix_rejects_trailing(blob):
    """Strictness twin: whatever decodes must consume EVERY byte —
    appending garbage to a valid constant must flip it to None
    (ValueSerializer.deserialize's exact-consumption contract)."""
    from ergo_uexplorer_spark.functions.crypto import _decode_register

    if _decode_register(blob.hex()) is not None:
        assert _decode_register((blob + b"\x00").hex()) is None


@settings(max_examples=400, deadline=None)
@given(st.binary(min_size=0, max_size=60))
def test_tree_decoders_never_raise(blob):
    """Every ErgoTree-derived column function is a TOTAL function of
    arbitrary bytes: address rendering falls back to P2S, T8 to None,
    hash to sha256-of-bytes — never an exception (which would kill the
    executor task for the whole partition on one malformed tree from an
    untrusted chain; _tree_to_address actually had this bug — a
    truncated constant raised IndexError past its ValueError handler)."""
    from ergo_uexplorer_spark.functions.crypto import (
        _fallback_hash,
        _tree_t8,
        _tree_to_address,
    )

    h = blob.hex()
    addr = _tree_to_address(h)
    assert isinstance(addr, str) and addr
    t8 = _tree_t8(h)
    assert t8 is None or isinstance(t8, str)
    assert isinstance(_fallback_hash(h), str)


_TREES = st.one_of(st.none(), st.binary(max_size=40).map(bytes.hex), st.text())


@settings(max_examples=100, deadline=None)
@given(st.lists(_TREES, max_size=20))
def test_tree_udfs_per_distinct_equal_per_row(trees):
    """The tree UDFs parse each distinct tree of an Arrow batch once;
    the result must equal the per-row map over repeats, nulls and ''."""
    import pandas as pd

    from ergo_uexplorer_spark.functions import crypto as C

    batch = pd.Series(trees + trees[::2], dtype=object)
    for udf, fn in (
        (C.ergo_tree_to_address, C._tree_to_address),
        (C.ergo_tree_t8, C._tree_t8),
        (C.ergo_tree_hash_py, C._fallback_hash),
    ):
        assert udf.func(batch).tolist() == [fn(t) if t else None for t in batch]


def test_dedup_family_total_over_dirty_text(spark):
    """Null / empty / whitespace-only / non-ASCII text must flow through
    every dedup pipeline without a task failure (JVM string functions
    are null-safe; this pins that no Python or HOF stage broke that),
    and the only near-dup pair found is the genuine duplicate."""
    from ergo_uexplorer_spark.operators import dedup as D

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, None),
            (3, ""),
            (4, "   "),
            (5, "the quick brown fox jumps over the lazy dog"),
            (6, "ééé 中文 \U0001F600"),
        ],
        "doc_id long, text string",
    )
    pair = {(1, 5)}
    got = {
        (r["doc_a"], r["doc_b"]) for r in D.jaccard_prefix_pairs(df).collect()
    }
    assert got == pair
    got = {
        (r["doc_a"], r["doc_b"]) for r in D.minhash_lsh_pairs(df).collect()
    }
    assert got == pair
    got = {
        (r["doc_a"], r["doc_b"])
        for r in D.simhash_pairs(D.simhash(df)).collect()
    }
    assert got == pair
    assert D.duplicate_spans(df).count() == 0  # no long shared runs
    D.dedup_clusters(df).collect()
    D.incremental_dedup(df, df).collect()


def test_grouped_trend_total_over_nulls(spark):
    """Null keys crashed the Arrow worker (int(None)); null x/y
    NaN-poisoned the closed-form moments. The operator now fits each
    group on its VALID observations only and drops the null-key group."""
    from ergo_uexplorer_spark.operators.grouped import per_group_linear_trend

    df = spark.createDataFrame(
        [
            (1, 1.0, 2.0),
            (1, 2.0, 4.0),
            (1, None, 6.0),
            (None, 1.0, 1.0),
            (2, 1.0, None),
            (2, 2.0, 5.0),
        ],
        "k long, x double, y double",
    )
    got = {
        r["group_key"]: (r["n_points"], r["slope"], r["intercept"])
        for r in per_group_linear_trend(df, "k", "x", "y").collect()
    }
    assert got == {1: (2, 2.0, 0.0), 2: (1, None, None)}


def test_misra_gries_counts_null_group_like_group_by(spark):
    """The operator's definition (and oracle) is GROUP BY + HAVING,
    which keeps the NULL group; the sketch pass can't see it (pandas
    value_counts drops NaN, and null never survives an equi-semi-join)
    so it gets an exact lane of its own, fused into the totals scan."""
    from ergo_uexplorer_spark.operators.stats import (
        misra_gries_heavy_hitters,
    )

    df = spark.createDataFrame(
        [("a",)] * 10 + [(None,)] * 20 + [("b",)] * 3,
        "event_type string",
    )
    got = {
        r["event_type"]: r["n"]
        for r in misra_gries_heavy_hitters(df, "event_type", 3).collect()
    }
    assert got == {None: 20}  # 20*3 > 33; a: 30 > 33 is false
