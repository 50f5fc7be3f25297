"""Round-7 batch-2 operator tests: skyline vs brute-force dominance,
Misra-Gries heavy hitters vs exact counts, strict-prefix max vs the
single-window reference, time-weighted sums past int64, FK audit
semantics (NULL keys), and profile/stack correctness."""

from __future__ import annotations

import random

from pyspark.sql import Window
from pyspark.sql import functions as F

from ergo_uexplorer_spark.operators.cumulative import (
    ordered_prefix,
    time_weighted_stats,
)
from ergo_uexplorer_spark.operators.graph import cooccurrence_pairs
from ergo_uexplorer_spark.operators.quality import fk_audit, profile_columns
from ergo_uexplorer_spark.operators.stats import (
    misra_gries_heavy_hitters,
    pareto_frontier_2d,
)


def _brute_skyline(points):
    out = []
    for a in points:
        dominated = any(
            b[1] >= a[1]
            and b[2] >= a[2]
            and (b[1] > a[1] or b[2] > a[2])
            for b in points
        )
        if not dominated:
            out.append(a)
    return sorted(out)


def test_pareto_frontier_matches_bruteforce_random(spark):
    rng = random.Random(7)
    pts = [
        (i, rng.randrange(0, 20), rng.randrange(0, 1000)) for i in range(400)
    ]
    # duplicates on purpose: every copy of a frontier point must be kept
    pts += pts[:25]
    df = spark.createDataFrame(pts, "id long, x long, y long")
    got = sorted(
        (r.id, r.x, r.y)
        for r in pareto_frontier_2d(df, "x", "y").collect()
    )
    assert got == _brute_skyline(pts)


def test_pareto_frontier_ties_on_both_axes(spark):
    # (5,5) twice → both kept; (5,4) dominated by (5,5); (4,5) dominated;
    # (6,1) and (1,6) incomparable corners stay
    pts = [(1, 5, 5), (2, 5, 5), (3, 5, 4), (4, 4, 5), (5, 6, 1), (6, 1, 6)]
    df = spark.createDataFrame(pts, "id long, x long, y long")
    got = sorted(r.id for r in pareto_frontier_2d(df, "x", "y").collect())
    assert got == [1, 2, 5, 6]


def test_strict_prefix_max_equals_window_reference(spark):
    rng = random.Random(11)
    rows = [(i, rng.randrange(-50, 50)) for i in range(500)]
    df = spark.createDataFrame(rows, "k long, v long").repartition(13)
    got = ordered_prefix(df, ["k"], strict_max_cols={"pm": "v"})
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
    ref = df.withColumn("pm", F.max("v").over(w))
    g = {r.k: r.pm for r in got.collect()}
    e = {r.k: r.pm for r in ref.collect()}
    assert g == e


def test_misra_gries_equals_exact_on_skewed_keys(spark):
    rng = random.Random(3)
    # zipf-ish: key 0 hot, long tail of distinct keys to force evictions
    keys = ["hot"] * 4000 + ["warm"] * 1500 + [
        f"k{rng.randrange(8000)}" for _ in range(4500)
    ]
    rng.shuffle(keys)
    df = spark.createDataFrame([(k,) for k in keys], "key string").repartition(
        16
    )
    k = 4
    got = {
        (r.key, r.n) for r in misra_gries_heavy_hitters(df, "key", k).collect()
    }
    n = len(keys)
    from collections import Counter

    exact = {(key, c) for key, c in Counter(keys).items() if c * k > n}
    assert got == exact
    assert ("hot", 4000) in got


def test_time_weighted_sum_exceeds_int64(spark):
    # one segment: v=10^7 cents held for 10^13 ns → 10^20 > 2^63
    rows = [
        (1, 0, 10_000_000, 1),
        (1, 10_000_000_000_000, 0, 2),
        (2, 5, 7, 1),  # single obs → no segment → NULL numerator, span 0
    ]
    df = spark.createDataFrame(rows, "u long, t long, v long, e long")
    got = {
        r.u: (r.n_obs, r.span, None if r.twa_num is None else int(r.twa_num))
        for r in time_weighted_stats(df, "u", "t", "v", "e").collect()
    }
    assert got[1] == (2, 10_000_000_000_000, 10_000_000 * 10_000_000_000_000)
    assert got[2] == (1, 0, None)


def test_fk_audit_null_keys_are_not_orphans(spark):
    child = spark.createDataFrame(
        [(1, 10), (2, 20), (3, None), (4, 99)], "id long, fk long"
    )
    parent = spark.createDataFrame([(10,), (20,)], "pk long")
    row = fk_audit([(child, "fk", parent, "pk", "c_p")]).collect()[0]
    assert (row.relation, row.child_rows, row.orphans) == ("c_p", 4, 1)


def test_profile_columns_one_pass_stats(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "c"), (None, "a")], "n long, s string"
    )
    got = {r.col_name: r for r in profile_columns(df).collect()}
    assert got["n"].n_rows == 4
    assert got["n"].n_nulls == 1
    assert got["n"].n_distinct == 2
    assert (got["n"].min_val, got["n"].max_val) == ("1", "2")
    assert got["s"].n_nulls == 1
    assert got["s"].n_distinct == 2
    assert (got["s"].min_val, got["s"].max_val) == ("a", "c")


def test_cooccurrence_apriori_prune_is_lossless(spark):
    # item "z" has support 1 → pruned before pairing; pairs among a/b/c
    rows = [
        (1, "a"), (1, "b"), (1, "z"),
        (2, "a"), (2, "b"),
        (3, "a"), (3, "c"),
        (4, "a"), (4, "c"),
        (4, "a"),  # duplicate (basket, item) must not inflate counts
    ]
    df = spark.createDataFrame(rows, "b long, i string")
    got = {
        (r.item_a, r.item_b, r.n_baskets)
        for r in cooccurrence_pairs(df, "b", "i", 2).collect()
    }
    assert got == {("a", "b", 2), ("a", "c", 2)}


def test_coarse_partition_rank_equals_partitioned_window(spark):
    from ergo_uexplorer_spark.operators.cumulative import (
        coarse_partition_rank,
    )

    rng = random.Random(5)
    rows = [
        (rng.choice(["a", "b", "c"]), rng.randrange(100), i)
        for i in range(600)
    ]
    df = spark.createDataFrame(rows, "p string, v long, id long").repartition(
        11
    )
    got = coarse_partition_rank(df, "p", ["v", "id"], "rk")
    w = Window.partitionBy("p").orderBy("v", "id")
    ref = df.withColumn("rk", F.row_number().over(w))
    g = {(r.p, r.v, r.id): r.rk for r in got.collect()}
    e = {(r.p, r.v, r.id): r.rk for r in ref.collect()}
    assert g == e


def test_weighted_median_matches_bruteforce(spark):
    from ergo_uexplorer_spark.operators.stats import weighted_median_by_group

    rng = random.Random(9)
    rows = [
        (rng.choice(["x", "y"]), rng.randrange(50), rng.randrange(1, 6))
        for _ in range(300)
    ]
    df = spark.createDataFrame(rows, "g string, v long, w long")
    got = {
        r.g: (r.total_weight, r.wmedian)
        for r in weighted_median_by_group(df, "g", "v", "w").collect()
    }
    for g in ("x", "y"):
        pts = sorted((v, w) for gg, v, w in rows if gg == g)
        tot = sum(w for _, w in pts)
        cum = 0
        for v, w in pts:
            cum += w
            if 2 * cum >= tot:
                assert got[g] == (tot, v), g
                break


def test_iqr_summary_matches_bruteforce(spark):
    from ergo_uexplorer_spark.operators.stats import iqr_outlier_summary

    rng = random.Random(13)
    rows = [("s", rng.randrange(1000)) for _ in range(400)] + [
        ("s", 10_000),
        ("s", -10_000),  # planted tails
    ]
    df = spark.createDataFrame(rows, "g string, v long")
    r = iqr_outlier_summary(df, "g", "v").collect()[0]
    vs = sorted(v for _, v in rows)
    n = len(vs)
    q1 = vs[(n + 3) // 4 - 1]  # smallest v with cum >= ceil(n/4)
    q3 = vs[(3 * n + 3) // 4 - 1]
    assert (r.n, r.q1, r.q3) == (n, q1, q3)
    lo2, hi2 = 2 * q1 - 3 * (q3 - q1), 2 * q3 + 3 * (q3 - q1)
    assert r.n_low == sum(1 for v in vs if 2 * v < lo2)
    assert r.n_high == sum(1 for v in vs if 2 * v > hi2)
    assert r.n_low >= 1 and r.n_high >= 1


def test_quantile_normalize_single_group_is_identity(spark):
    from ergo_uexplorer_spark.operators.curation import quantile_normalize

    rows = [(i, "only", v) for i, v in enumerate([5, 3, 9, 3, 7, 1])]
    df = spark.createDataFrame(rows, "id long, g string, v long")
    out = quantile_normalize(df, "g", "v", "id").collect()
    # one group: within-group rank IS the global rank → identity map
    assert all(r.norm_val == r.v for r in out)
    assert len(out) == len(rows)


def test_contingency_marginals_and_expected(spark):
    from ergo_uexplorer_spark.operators.stats import contingency_with_expected

    rows = [("A", "hit")] * 3 + [("A", "miss")] * 1 + [("B", "hit")] * 2 + [
        ("B", "miss")
    ] * 4
    df = spark.createDataFrame(rows, "v string, o string")
    got = {
        (r.v, r.o): (r.obs, r.row_total, r.col_total, int(r.exp_num))
        for r in contingency_with_expected(df, "v", "o").collect()
    }
    assert got[("A", "hit")] == (3, 4, 5, 20)
    assert got[("B", "miss")] == (4, 6, 5, 30)
