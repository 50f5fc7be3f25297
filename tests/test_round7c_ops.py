"""Round-7 batch-4 operator tests: BM25 (exact-integer and float paths)
vs brute force, RRF fusion full-outer semantics, SCD2 run-collapsing vs
a python reference, sweep-line peak concurrency vs brute force, and RFM
quintile binning vs explicit rank formulas."""

from __future__ import annotations

import random

from ergo_uexplorer_spark.operators.intervals import (
    peak_concurrency,
    scd2_intervals,
)
from ergo_uexplorer_spark.operators.retrieval import bm25_topk, rrf_fuse
from ergo_uexplorer_spark.operators.stats import rfm_segments

WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]


def _mk_corpus(rng, n_docs):
    return [
        (i, " ".join(rng.choices(WORDS, k=rng.randrange(3, 40))))
        for i in range(n_docs)
    ]


def _brute_bm25_exact(corpus, terms, scale=10**6):
    toks = {i: t.split() for i, t in corpus}
    n = len(corpus)
    total = sum(len(t) for t in toks.values())
    dfreq = {
        q: sum(1 for t in toks.values() if q in t) for q in terms
    }
    scores = {}
    for i, t in toks.items():
        s = 0
        for q in terms:
            tf = t.count(q)
            if tf == 0 or dfreq[q] == 0:
                continue
            idf = (2 * (n - dfreq[q]) + 1) * scale // (2 * dfreq[q] + 1)
            sat = (scale * 22 * tf * total) // (
                10 * tf * total + 3 * total + 9 * len(t) * n
            )
            s += idf * sat
        if s:
            scores[i] = s
    return scores


def test_bm25_exact_matches_bruteforce(spark):
    rng = random.Random(11)
    corpus = _mk_corpus(rng, 200)
    terms = ["alpha", "zeta"]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = [
        (r.doc_id, int(r.score))
        for r in bm25_topk(df, terms, k=10).collect()
    ]
    scores = _brute_bm25_exact(corpus, terms)
    want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert got == want


def test_bm25_float_top1_matches_bruteforce(spark):
    import math

    rng = random.Random(23)
    corpus = _mk_corpus(rng, 150)
    terms = ["beta", "gamma"]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = bm25_topk(df, terms, k=5, exact=False).collect()
    assert [r.doc_id for r in got] == sorted(
        {r.doc_id for r in got},
        key=lambda d: (-[r.score for r in got if r.doc_id == d][0], d),
    )

    toks = {i: t.split() for i, t in corpus}
    n = len(corpus)
    total = sum(len(t) for t in toks.values())
    avgdl = total / n
    k1, b = 1.2, 0.75
    best = {}
    for i, t in toks.items():
        s = 0.0
        for q in terms:
            tf = t.count(q)
            dfq = sum(1 for tt in toks.values() if q in tt)
            if tf == 0:
                continue
            idf = math.log((n - dfq + 0.5) / (dfq + 0.5))
            sat = tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(t) / avgdl))
            s += idf * sat
        if s:
            best[i] = s
    want_top = min(best, key=lambda d: (-best[d], d))
    assert got[0].doc_id == want_top


def test_bm25_only_matching_docs_scored(spark):
    corpus = [(1, "alpha beta"), (2, "gamma gamma"), (3, "delta")]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {r.doc_id for r in bm25_topk(df, ["alpha"], k=10).collect()}
    assert got == {1}


def test_rrf_fuse_full_outer_and_order(spark):
    a = spark.createDataFrame([(1, 1), (2, 2)], "doc_id long, rk long")
    b = spark.createDataFrame([(2, 1), (3, 2)], "doc_id long, rk long")
    got = {
        r.doc_id: r.rrf_score for r in rrf_fuse([a, b], k=60).collect()
    }
    s = 10**12
    assert got == {
        1: s // 61,
        2: s // 62 + s // 61,
        3: 0 + s // 62,
    }
    top = rrf_fuse([a, b], k=60, top=1).collect()
    assert [(r.doc_id, r.rrf_score) for r in top] == [(2, s // 62 + s // 61)]


def _brute_scd2(rows):
    # rows: (key, ts, tiebreak, state) → list of interval dicts
    out = []
    bykey = {}
    for k, ts, tb, st in rows:
        bykey.setdefault(k, []).append((ts, tb, st))
    for k, evs in bykey.items():
        evs.sort()
        runs = []
        for ts, tb, st in evs:
            if not runs or runs[-1]["state"] != st:
                runs.append(
                    {"key": k, "state": st, "from": ts, "n": 1}
                )
            else:
                runs[-1]["n"] += 1
        for i, r in enumerate(runs):
            r["version"] = i + 1
            r["to"] = runs[i + 1]["from"] if i + 1 < len(runs) else None
        out.extend(runs)
    return {
        (r["key"], r["version"]): (
            r["state"],
            r["from"],
            r["to"],
            r["to"] is None,
            r["n"],
        )
        for r in out
    }


def test_scd2_matches_bruteforce_random(spark):
    rng = random.Random(31)
    rows = [
        (
            rng.randrange(8),
            rng.randrange(50),
            i,
            rng.choice(["a", "b", "c"]),
        )
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "k long, ts long, tb long, st string")
    got = {
        (r.k, r.version): (
            r.st,
            r.valid_from,
            r.valid_to,
            r.is_current,
            r.n_events,
        )
        for r in scd2_intervals(df, "k", "st", "ts", "tb").collect()
    }
    assert got == _brute_scd2(rows)


def test_scd2_single_run_is_current(spark):
    rows = [(1, 10, 1, "x"), (1, 20, 2, "x"), (1, 30, 3, "x")]
    df = spark.createDataFrame(rows, "k long, ts long, tb long, st string")
    out = scd2_intervals(df, "k", "st", "ts", "tb").collect()
    assert len(out) == 1
    r = out[0]
    assert (r.version, r.valid_from, r.valid_to, r.is_current, r.n_events) == (
        1,
        10,
        None,
        True,
        3,
    )


def _brute_peak(intervals):
    pts = sorted(
        [(s, 1) for s, _ in intervals] + [(e, -1) for _, e in intervals]
    )
    cum, peak, at = 0, None, None
    for t, d in pts:
        cum += d
        if peak is None or cum > peak:
            peak, at = cum, t
    return peak, at


def test_peak_concurrency_matches_bruteforce(spark):
    rng = random.Random(17)
    ivs = []
    for _ in range(500):
        s = rng.randrange(1000)
        ivs.append((s, s + rng.randrange(1, 80)))
    df = spark.createDataFrame(ivs, "st long, en long")
    r = peak_concurrency(df, "st", "en").collect()[0]
    assert (r.peak, r.ts_at_peak) == _brute_peak(ivs)


def test_peak_concurrency_touching_intervals_exclusive_end(spark):
    # [0,10) and [10,20): end-exclusive ⇒ never concurrent
    df = spark.createDataFrame([(0, 10), (10, 20)], "st long, en long")
    r = peak_concurrency(df, "st", "en").collect()[0]
    assert r.peak == 1


def test_rfm_segments_matches_rank_formula(spark):
    rng = random.Random(41)
    rows = [
        (rng.randrange(40), rng.randrange(1000), rng.randrange(1, 500))
        for _ in range(600)
    ]
    df = spark.createDataFrame(rows, "cust long, ts long, amt long")
    got = {
        (r.r_score, r.f_score, r.m_score): r.n_entities
        for r in rfm_segments(df, "cust", "ts", "amt").collect()
    }

    per = {}
    for c, ts, amt in rows:
        r, f, m = per.get(c, (-1, 0, 0))
        per[c] = (max(r, ts), f + 1, m + amt)
    n = len(per)

    def scores(idx):
        order = sorted(per, key=lambda c: (per[c][idx], c))
        return {c: (k * 5) // n + 1 for k, c in enumerate(order)}

    sr, sf_, sm = scores(0), scores(1), scores(2)
    want = {}
    for c in per:
        cell = (sr[c], sf_[c], sm[c])
        want[cell] = want.get(cell, 0) + 1
    assert got == want
    assert sum(got.values()) == n


def test_round7c_plans_have_no_unbounded_products(spark):
    """zyc plan audit: the only nested-loop product allowed is zyc1's
    single-row corpus-scalar broadcast (same sanctioned shape as
    corpus.py's dataset totals); everything else must be equi-joins."""
    import re as _re

    from ergo_uexplorer_spark.plans.explain import formatted_plan
    from ergo_uexplorer_spark.suite import REGISTRY

    sf = "/root/testdata/sf0.001"
    names = [n for n in REGISTRY if n.startswith("zyc")]
    assert len(names) == 5
    for name in names:
        plan = formatted_plan(REGISTRY[name].fn(spark, sf))
        assert "CartesianProduct" not in plan, name
        nl = len(_re.findall(r"\(\d+\)\s+BroadcastNestedLoopJoin", plan))
        assert nl <= (1 if name == "zyc1_bm25_topk" else 0), name
