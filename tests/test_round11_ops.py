"""Round-11 additions: the quarantine twins of the strict-money
aggregates (zwi/zwj/zwk — r10 VERDICT #6), the hub-guard in-band
observability (r10 ADVICE low), and the dirty-at-birth gate for every
entry registered this round (tests/dirty.py policy)."""

import pytest
from pyspark.sql import functions as F

from ergo_uexplorer_spark.suite.base import REGISTRY

from .dirty import make_dirty_sf_dir
from .oracle import assert_matches_oracle

# every entry registered in round 11 — the dirty-at-birth gate below
# runs each against its oracle on the corrupted tables
R11_NEW_ENTRIES = [
    "zwi_local_supplier_volume_quarantine",
    "zwj_small_quantity_revenue_quarantine",
    "zwk_pricing_summary_quarantine",
]


@pytest.fixture(scope="module")
def dirty_dir(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("dirty_sf_r11")
    return make_dirty_sf_dir(spark, "/root/testdata/sf0.001", str(out))


@pytest.mark.parametrize("name", R11_NEW_ENTRIES)
def test_r11_entries_survive_dirty_inputs(spark, dirty_dir, name):
    """Dirty-at-birth gate: the entry and its oracle must AGREE on the
    corrupted tables — for the quarantine twins this is the entire
    point: the strict siblings REFUSE these tables (agreed two-sided),
    the twins must instead finish with identical accepted-row results
    and identical reason counts on both engines."""
    q = REGISTRY[name]
    df = q.fn(spark, dirty_dir)
    assert_matches_oracle(df, q.sql, dirty_dir, name)


def test_quarantine_twin_counts_dirty_rows(spark, dirty_dir):
    """The dirty lineitem twin carries one NaN money row, one ±Inf
    money row, and one finite-overflow row (tests/dirty.py); the
    pricing twin must quarantine exactly those — and the strict
    sibling must still refuse the same
    table (the twins ADD a lane, they do not weaken the strict
    contract)."""
    q = REGISTRY["zwk_pricing_summary_quarantine"]
    rows = q.fn(spark, dirty_dir).collect()
    assert sum(r["n_nan"] for r in rows) == 1
    assert sum(r["n_inf"] for r in rows) == 1
    # the r12 finite-overflow row: 1e307 is finite (raw screens pass)
    # but ×100 → +Inf; the scaled-expression reason must catch it
    assert sum(r["n_ovf"] for r in rows) == 1
    strict = REGISTRY["zz_b01_pricing_summary"]
    with pytest.raises(Exception):
        # the strict entry scans no date-filtered dirty rows — probe its
        # cast contract directly on the full table instead
        (
            spark.read.parquet(f"{dirty_dir}/lineitem.parquet")
            .select(
                F.round(F.col("l_quantity")).cast("bigint").alias("q")
            )
            .agg(F.sum("q"))
            .collect()
        )
    assert strict is not None


def test_quarantine_twin_matches_strict_on_clean_data(spark):
    """On CLEAN tables the twins must reproduce the strict entries'
    numbers exactly (zero quarantined rows) — keep-going semantics may
    never change a clean-source answer."""
    sf = "/root/testdata/sf0.001"
    strict = {
        tuple(r)
        for r in REGISTRY["zwb_local_supplier_volume"].fn(spark, sf).collect()
    }
    twin_rows = (
        REGISTRY["zwi_local_supplier_volume_quarantine"].fn(spark, sf).collect()
    )
    assert all(r["n_nan"] == 0 and r["n_inf"] == 0 for r in twin_rows)
    twin = {
        (r["n_name"], r["revenue_cents"], r["n_lines"]) for r in twin_rows
    }
    assert twin == strict

    strict_c = REGISTRY["zwc_small_quantity_revenue"].fn(spark, sf).collect()
    twin_c = (
        REGISTRY["zwj_small_quantity_revenue_quarantine"].fn(spark, sf).collect()
    )
    assert len(strict_c) == len(twin_c) == 1
    assert (
        twin_c[0]["revenue_cents"],
        twin_c[0]["n_lines"],
        twin_c[0]["n_nan"],
        twin_c[0]["n_inf"],
    ) == (strict_c[0]["revenue_cents"], strict_c[0]["n_lines"], 0, 0)


def test_hub_guard_stats_surfaced_in_band(spark, monkeypatch):
    """r10 ADVICE: the auto hub guard changes results when it trips, so
    callers must be able to observe it without reading logs — the
    guard_stats out-dict reports tripped/cap/dropped volumes on both
    the tripped and the silent path."""
    from ergo_uexplorer_spark.operators import graph as G

    normal = [(left, r) for r in range(1, 21) for left in (r, r + 1, r + 2)]
    hub = [(left, 999) for left in range(1, 201)]
    edges = spark.createDataFrame(normal + hub, "l long, r long")
    monkeypatch.setattr(G, "HUB_FLOOR", 16)
    gs: dict = {}
    G.common_neighbor_links(edges, "l", "r", min_common=1, guard_stats=gs).collect()
    assert gs["tripped"] is True
    assert gs["cap"] == 48
    assert gs["dropped_rights"] == 1
    assert gs["dropped_wedges"] == 200 * 200
    assert gs["total_wedges"] > gs["dropped_wedges"]

    silent: dict = {}
    skew_free = spark.createDataFrame(normal, "l long, r long")
    G.common_neighbor_links(
        skew_free, "l", "r", min_common=1, guard_stats=silent
    ).collect()
    assert silent["tripped"] is False
    assert silent["dropped_rights"] == 0


def test_pagerank_local_arrow_equals_distributed(spark, one_task_off):
    """The single-Arrow-task tier must be a bit-exact twin of the
    distributed loop — same integer truncation, same dangling share,
    same null-key semantics (a NULL src/dst is a node whose edges
    never match the per-round equi-join). A one-task budget of 0
    forces the distributed loop; the default gate takes the local
    tier on these tiny graphs."""
    import random

    from ergo_uexplorer_spark.operators.graph import pagerank_int

    rng = random.Random(42)
    graphs = [
        # string ids with a null src and a null dst edge
        (
            [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"),
             (None, "a"), ("b", None)],
            "src string, dst string",
        ),
        # long ids
        (
            [(1, 2), (2, 3), (3, 1), (3, 4), (4, 4)],
            "src long, dst long",
        ),
        # random digraph with dangling sinks
        (
            [
                (rng.randrange(30), rng.randrange(40))
                for _ in range(200)
            ],
            "src long, dst long",
        ),
        # ids past 2^53 with a null: exact int64 through the Arrow ingest
        (
            [(2**53 + 1, 2**53 + 3), (2**53 + 3, 2**53 + 1),
             (2**53 + 3, 2**53 + 5), (None, 2**53 + 1), (2**53 + 5, None)],
            "src long, dst long",
        ),
        # narrow ints widen to long for the kernel and cast back
        (
            [(1, 2), (2, 3), (3, 1), (3, 4), (4, None)],
            "src tinyint, dst tinyint",
        ),
    ]
    for rows, schema in graphs:
        edges = spark.createDataFrame(rows, schema)
        for kw in (
            dict(iters=4),
            dict(iters=5, dangling=True),
            dict(iters=6, dangling=True, early_stop=True,
                 convergence_check_every=2),
        ):
            local = {
                (x["id"],): x["rank"]
                for x in pagerank_int(edges, **kw).collect()
            }
            with one_task_off():
                dist = {
                    (x["id"],): x["rank"]
                    for x in pagerank_int(edges, **kw).collect()
                }
            assert local == dist, (schema, kw)


def test_pagerank_local_arrow_is_single_job_plan(spark):
    """On a default-gated small graph the returned plan must be the
    materialized single task (a checkpointed RDD scan) — no per-round
    joins, windows, or exchanges survive into the consumer's plan."""
    from ergo_uexplorer_spark.operators.graph import pagerank_int
    from ergo_uexplorer_spark.plans.explain import formatted_plan

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    plan = formatted_plan(pagerank_int(edges, iters=4, dangling=True))
    for op in ("Join", "Window", "Exchange"):
        assert op not in plan, plan


def test_linear_trend_vectorized_equals_per_group(spark):
    """The r11 vectorized (one-call-per-partition) trend fit must agree
    with the per-group applyInPandas form: n_points exactly, moments to
    float tolerance (the two forms sum in different orders — pairwise
    numpy vs Cython groupby — which is inside the 1e-9 the suite's
    round(slope, 4) oracle already absorbs across engines)."""
    import math
    import random

    from ergo_uexplorer_spark.operators.grouped import per_group_linear_trend

    rng = random.Random(7)
    rows = [
        (
            rng.randrange(40) if rng.random() > 0.02 else None,
            rng.uniform(-50, 50) if rng.random() > 0.02 else None,
            rng.uniform(-5, 5) if rng.random() > 0.02 else None,
        )
        for _ in range(5000)
    ]
    # a degenerate group: single point, and a zero-variance group
    rows += [(900, 1.0, 2.0), (901, 3.0, 1.0), (901, 3.0, 2.0)]
    df = spark.createDataFrame(rows, "k long, x double, y double")
    vec = {
        r["group_key"]: r
        for r in per_group_linear_trend(df, "k", "x", "y").collect()
    }
    ref = {
        r["group_key"]: r
        for r in per_group_linear_trend(
            df, "k", "x", "y", vectorized=False
        ).collect()
    }
    assert set(vec) == set(ref)
    for k, rv in vec.items():
        rr = ref[k]
        assert rv["n_points"] == rr["n_points"], k
        for c in ("slope", "intercept"):
            a, b = rv[c], rr[c]
            assert (a is None) == (b is None), (k, c, a, b)
            if a is not None:
                assert math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12), (
                    k, c, a, b,
                )
    assert vec[900]["slope"] is None and vec[901]["slope"] is None


def _rand_edges(rng, n_rows, n_nodes, null_rate=0.05):
    def nid():
        return None if rng.random() < null_rate else rng.randrange(n_nodes)

    return [(nid(), nid()) for _ in range(n_rows)]


def test_k_hop_local_arrow_equals_distributed(spark, one_task_off, kernel_calls):
    """The one-Arrow-task BFS must equal the distributed loop as a
    MULTISET (the distributed form re-admits a null dst at every level
    it appears, and keeps duplicate seed rows — quirks included)."""
    import random
    from collections import Counter

    from ergo_uexplorer_spark.operators.graph import k_hop_neighbors

    rng = random.Random(13)
    cases = [
        ([("a", "b"), ("b", "c"), ("c", "d"), ("b", None), ("c", None),
          (None, "a")], "src string, dst string", ["a"], 3),
        (_rand_edges(rng, 300, 40), "src long, dst long", [0, 1, 99], 4),
        ([("x", "y")], "src string, dst string", ["zz"], 2),
        # ids past 2^53 + a null and a duplicate seed: the r12 int64
        # mapInArrow kernel must stay exact where pandas float64 would
        # round (2**53 + 1 == 2.0**53 in float)
        ([(2**53 + 1, 2**53 + 3), (2**53 + 3, 2**53 + 5),
          (2**53 + 1, None), (None, 2**53 + 1)],
         "src long, dst long", [2**53 + 1, 2**53 + 1, None], 3),
        # narrow integral ids exercise the upcast + cast-back lane
        ([(1, 2), (2, 3), (3, None)], "src int, dst int", [1], 3),
    ]
    calls = kernel_calls("_k_hop_local_arrow")
    for rows, schema, starts, k in cases:
        edges = spark.createDataFrame(rows, schema)
        for directed in (True, False):
            n_calls = len(calls)
            loc = Counter(
                (r["id"], r["hops"])
                for r in k_hop_neighbors(
                    edges, starts, k, directed=directed
                ).collect()
            )
            with one_task_off():
                dist = Counter(
                    (r["id"], r["hops"])
                    for r in k_hop_neighbors(
                        edges, starts, k, directed=directed
                    ).collect()
                )
            assert len(calls) == n_calls + 1, (schema, directed)
            assert loc == dist, (schema, starts, directed)


def test_kcore_local_arrow_equals_distributed(spark, one_task_off, kernel_calls):
    """One-task peel == distributed peel, nulls included (a null
    endpoint counts toward round-1 degrees but its edges never survive
    a semi-join)."""
    import random

    from ergo_uexplorer_spark.operators.graph import kcore

    rng = random.Random(29)
    ring = [(i, (i + 1) % 5) for i in range(5)] + [(0, 2), (1, 3)]
    cases = [
        (ring, "a long, b long"),
        (_rand_edges(rng, 400, 30), "a long, b long"),
        ([("p", "q"), ("q", "r"), ("r", "p"), ("p", None)],
         "a string, b string"),
        # ids past 2^53 + a real 0 alongside nulls: the null sentinel
        # must keep a GENUINE node 0 distinct from null
        ([(2**53 + 1, 2**53 + 3), (2**53 + 3, 2**53 + 1),
          (2**53 + 1, 0), (0, 2**53 + 1), (0, None), (None, 0)],
         "a long, b long"),
        # narrow ints widen to long for the kernel and cast back
        (ring + [(4, None)], "a smallint, b smallint"),
    ]
    calls = kernel_calls("_kcore_local_arrow")
    for rows, schema in cases:
        edges = spark.createDataFrame(rows, schema)
        for k in (1, 2, 3):
            n_calls = len(calls)
            loc = sorted((r["v"], r["deg"]) for r in kcore(edges, k).collect())
            with one_task_off():
                dist = sorted(
                    (r["v"], r["deg"]) for r in kcore(edges, k).collect()
                )
            assert len(calls) == n_calls + 1, (schema, k)
            assert loc == dist, (schema, k)


def test_components_local_arrow_equals_distributed(
    spark, one_task_off, kernel_calls
):
    """One-task union-find == hash-min fixpoint: same node set (nulls
    are singleton components), same min-member labels — numeric order
    for integral ids (ids ≥ 10 would mislabel under lexicographic
    min), bytewise order for string ids."""
    import random

    from ergo_uexplorer_spark.operators.graph import connected_components

    rng = random.Random(31)
    cases = [
        ([(1, 2), (2, 3), (10, 11), (11, 12), (9, 10), (5, None)],
         "doc_a long, doc_b long"),
        (_rand_edges(rng, 300, 50), "doc_a long, doc_b long"),
        ([("m", "n"), ("n", "o"), ("x", "y"), (None, "m")],
         "doc_a string, doc_b string"),
        # int64 ingest hazards: ids past 2^53 stay exact; duplicate
        # pairs; a NULL next to a graph NOT containing 0 (null must not
        # surface as a spurious node 0); genuine 0 alongside nulls
        ([(2**53 + 1, 2**53 + 3), (2**53 + 3, 2**53 + 2),
          (2**53 + 1, 2**53 + 2), (7, None), (8, 9), (8, 9)],
         "doc_a long, doc_b long"),
        ([(0, 5), (5, None), (None, 6)], "doc_a long, doc_b long"),
        ([(3, 4), (4, None)], "doc_a int, doc_b int"),
        # string ids first seen out of value order, one non-ASCII: the
        # min-member label must follow Spark's bytewise string order
        ([("z", "é"), ("é", "a"), ("Z", "b"), ("b", None)],
         "doc_a string, doc_b string"),
    ]
    calls = kernel_calls("_components_local_arrow")
    for rows, schema in cases:
        pairs = spark.createDataFrame(rows, schema)
        n_calls = len(calls)
        loc = sorted(
            repr((r["id"], r["component"]))
            for r in connected_components(pairs).collect()
        )
        with one_task_off():
            dist = sorted(
                repr((r["id"], r["component"]))
                for r in connected_components(pairs).collect()
            )
        assert len(calls) == n_calls + 1, schema
        assert loc == dist, schema
