"""motif_find (GraphFrames-style `find`, the declarative general form of
Q19's Gremlin traversals — StreamExecutor.scala:37-41): binding
semantics, negation, self-loops, and the no-cartesian plan contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ergo_uexplorer_spark.operators.graph import co_spend_pairs, motif_find
from ergo_uexplorer_spark.plans.explain import assert_no_cartesian


@pytest.fixture(scope="module")
def edges(spark):
    rows = [
        # (src, dst, value, direction)
        ("a1", "t1", 5, "in"),
        ("a2", "t1", 7, "in"),
        ("t1", "a3", 11, "out"),
        ("t1", "a4", 2, "out"),
        ("a3", "t2", 3, "in"),
        ("t2", "a1", 9, "out"),
        ("x", "x", 1, "out"),  # self-loop
    ]
    return spark.createDataFrame(
        rows, "src string, dst string, value long, direction string"
    )


def test_path_bindings(spark, edges):
    out = motif_find(edges, "(a)-[e1]->(t); (t)-[e2]->(b)")
    assert set(out.columns) == {"a", "t", "b", "e1", "e2"}
    got = {
        (r["a"], r["t"], r["b"]) for r in out.collect()
    }
    # every 2-path, including through the self-loop vertex
    assert ("a1", "t1", "a3") in got
    assert ("a2", "t1", "a4") in got
    assert ("a3", "t2", "a1") in got
    assert ("x", "x", "x") in got
    # edge structs carry the full edge row
    r = out.filter((F.col("a") == "a1") & (F.col("b") == "a3")).first()
    assert r["e1"]["value"] == 5 and r["e2"]["value"] == 11


def test_wedge_matches_co_spend(spark, edges):
    """(a)-[]->(t); (b)-[]->(t) with direction filters reproduces the
    hand-written co-spend wedge operator."""
    ins = edges.filter(F.col("direction") == "in")
    wedge = (
        motif_find(ins, "(a)-[]->(t); (b)-[]->(t)")
        .filter(F.col("a") < F.col("b"))
        .groupBy(
            F.col("a").alias("addr_a"), F.col("b").alias("addr_b")
        )
        .agg(F.count(F.lit(1)).alias("n_txs"))
    )
    expected = co_spend_pairs(edges)
    assert sorted(map(tuple, wedge.collect())) == sorted(
        map(tuple, expected.collect())
    )


def test_negation(spark, edges):
    """!(b)-[]->(a) keeps only non-reciprocated 2-paths: t2→a1 exists but
    a1's path lands back at t2's source a3 via t1? — check directly."""
    out = motif_find(edges, "(a)-[]->(t); (t)-[]->(b); !(b)-[]->(t)")
    got = {(r["a"], r["t"], r["b"]) for r in out.collect()}
    # a3→t2 exists, so any path ending (… t2 → …) with b→t2?  b=a1: a1→t2
    # does not exist → kept; but path (a3,t2,a1) has b=a1, a1→t2 absent.
    assert ("a3", "t2", "a1") in got
    # (x,x,x): x→x exists, so the negation removes it
    assert ("x", "x", "x") not in got


def test_self_loop_term(spark, edges):
    out = motif_find(edges, "(v)-[]->(v)")
    assert [r["v"] for r in out.collect()] == ["x"]


def test_anonymous_and_errors(spark, edges):
    # fully anonymous terms constrain existence without binding columns
    out = motif_find(edges, "(a)-[]->(t); (t)-[]->()")
    assert set(out.columns) == {"a", "t"}
    with pytest.raises(ValueError, match="disconnected"):
        motif_find(edges, "(a)-[]->(b); (c)-[]->(d)")
    with pytest.raises(ValueError, match="unique"):
        motif_find(edges, "(a)-[e]->(b); (b)-[e]->(c)")
    with pytest.raises(ValueError, match="negated term cannot name"):
        motif_find(edges, "(a)-[]->(b); !(a)-[e]->(b)")
    with pytest.raises(ValueError, match="at least one positive"):
        motif_find(edges, "!(a)-[]->(b)")
    with pytest.raises(ValueError, match="bad motif term"):
        motif_find(edges, "(a)->(b)")


def test_no_cartesian_plan(spark, edges):
    out = motif_find(edges, "(a)-[]->(t); (t)-[]->(b); !(b)-[]->(a)")
    assert_no_cartesian(out)


def test_k_hop_deep_lineage_bounded(spark):
    """k=10 BFS over a 12-node ring: correct min-hop labels AND a plan
    whose depth is truncated by the periodic localCheckpoint — without
    it the k-fold union's analyzed-plan string grows linearly with k."""
    from ergo_uexplorer_spark.operators.graph import k_hop_neighbors

    ring = spark.createDataFrame(
        [(f"n{i}", f"n{(i + 1) % 12}") for i in range(12)],
        "src string, dst string",
    )
    out = k_hop_neighbors(ring, ["n0"], k=10)
    got = {r["id"]: r["hops"] for r in out.collect()}
    assert got == {f"n{i}": i for i in range(11)}
    # lineage gate: the checkpoint at level 8 replaces the union prefix
    # with a LogicalRDD scan, so depth-10 analysis stays shallow
    plan10 = out._jdf.queryExecution().analyzed().toString()
    plan4 = (
        k_hop_neighbors(ring, ["n0"], k=4)
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert len(plan10) < 3 * len(plan4), (len(plan10), len(plan4))


def test_near_dup_operators_release_caches(spark):
    """The registered candidate/verify dedup entries must not pin
    CacheManager entries for the life of the session (the driver runs
    ~50 queries in ONE session — verdict r3 item 5)."""
    from ergo_uexplorer_spark.suite import REGISTRY

    spark.catalog.clearCache()
    sf = "/root/testdata/sf0.001"
    for name in (
        "zz_d02_dedup_ngram_jaccard",
        "zz_d03_dedup_minhash_lsh",
        "zz_d05_dedup_embedding_cosine",
    ):
        REGISTRY[name].fn(spark, sf).count()
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty(), "near-dup operators leaked persisted intermediates"


def test_motif_semijoin_reduction_invariance(spark):
    """`reduce=True` (Yannakakis semi-join reduction) must return the
    IDENTICAL binding set on chains, cyclic patterns (triangles), and
    patterns with negation — semi-joins only drop dangling rows."""
    edges = spark.createDataFrame(
        [
            ("a", "b"), ("b", "c"), ("c", "a"),       # triangle
            ("b", "d"), ("d", "e"),                   # dangling tail
            ("x", "y"),                               # disconnected pair
        ],
        "src string, dst string",
    )
    patterns = [
        "(u)-[]->(v); (v)-[]->(w)",
        "(u)-[]->(v); (v)-[]->(w); (w)-[]->(u)",      # cyclic
        "(u)-[]->(v); (v)-[]->(w); !(w)-[]->(u)",     # negation
    ]
    for p in patterns:
        base = {tuple(sorted(r.asDict().items()))
                for r in motif_find(edges, p).collect()}
        red = {tuple(sorted(r.asDict().items()))
               for r in motif_find(edges, p, reduce=True).collect()}
        assert base == red, p
    # the triangle pattern finds exactly the 3 rotations
    tri = motif_find(
        edges, "(u)-[]->(v); (v)-[]->(w); (w)-[]->(u)", reduce=True
    ).collect()
    assert len(tri) == 3


def test_pagerank_int_invariants(spark):
    """Integer PageRank: a symmetric 2-cycle sits at its fixed point
    (150000 + 85% of 1e6 = 1e6 exactly, every round); a source node with
    no in-edges settles at `base`; a sink accumulates strictly more than
    its feeder. Determinism: two runs produce identical ranks."""
    from ergo_uexplorer_spark.operators.graph import pagerank_int

    cyc = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src string, dst string"
    )
    r = {x["id"]: x["rank"] for x in pagerank_int(cyc, iters=4).collect()}
    assert r == {"a": 1_000_000, "b": 1_000_000}

    chain = spark.createDataFrame(
        [("src1", "mid"), ("mid", "sink")], "src string, dst string"
    )
    r = {x["id"]: x["rank"] for x in pagerank_int(chain, iters=6).collect()}
    assert r["src1"] == 150_000  # no in-edges → restart mass only
    assert r["sink"] > r["mid"] > r["src1"]

    r2 = {x["id"]: x["rank"] for x in pagerank_int(chain, iters=6).collect()}
    assert r == r2


def test_pagerank_dangling_redistribution(spark):
    """a→b with b a sink, N=2, hand-computed round 1: dangling mass
    D = rank(b) = 1e6, share = 85·D div 100 div 2 = 425000; a gets
    base+share = 575000, b gets base+share+85·1e6 div 100 = 1425000."""
    from ergo_uexplorer_spark.operators.graph import pagerank_int

    g = spark.createDataFrame([("a", "b")], "src string, dst string")
    r = {
        x["id"]: x["rank"]
        for x in pagerank_int(g, iters=1, dangling=True).collect()
    }
    assert r == {"a": 575_000, "b": 1_425_000}
    # round 2: D = 1425000 → share = 605625; a = 755625,
    # b = 150000 + 605625 + 85·575000 div 100 = 1244375
    r = {
        x["id"]: x["rank"]
        for x in pagerank_int(g, iters=2, dangling=True).collect()
    }
    assert r == {"a": 755_625, "b": 1_244_375}


def test_pagerank_early_stop_matches_fixed_iters(spark, one_task_off):
    """Early stop is sound because post-fixpoint rounds are identity:
    a convergence-stopped run equals the full fixed-round run exactly,
    and on a DAG chain the integer iteration reaches its fixpoint in a
    handful of rounds (stats prove the stop actually fired; the
    distributed loop reports them, so the one-task tier is off)."""
    from ergo_uexplorer_spark.operators.graph import pagerank_int

    chain = spark.createDataFrame(
        [("src1", "mid"), ("mid", "sink")], "src string, dst string"
    )
    s: dict = {}
    full = {
        x["id"]: x["rank"] for x in pagerank_int(chain, iters=30).collect()
    }
    with one_task_off():
        stopped = {
            x["id"]: x["rank"]
            for x in pagerank_int(
                chain, iters=30, early_stop=True, stats=s
            ).collect()
        }
    assert stopped == full
    assert s["converged"] and s["rounds"] < 30 and not s["local"]

    # dangling + early_stop: identical to the fixed-round dangling run
    # whether or not the fixpoint arrives inside the budget
    g = spark.createDataFrame([("a", "b")], "src string, dst string")
    fixed = {
        x["id"]: x["rank"]
        for x in pagerank_int(g, iters=8, dangling=True).collect()
    }
    es = {
        x["id"]: x["rank"]
        for x in pagerank_int(
            g, iters=8, dangling=True, early_stop=True
        ).collect()
    }
    assert es == fixed


def test_connected_components_basic(spark):
    """Path, triangle, and a long chain converge to min-id components
    (hash-min propagation, O(diameter) rounds)."""
    from ergo_uexplorer_spark.operators.graph import connected_components

    pairs = [(1, 2), (2, 3), (10, 11), (11, 12), (12, 10)] + [
        (100 + i, 101 + i) for i in range(9)  # chain 100..109
    ]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = {
        r["id"]: r["component"]
        for r in connected_components(df).collect()
    }
    assert got == (
        {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}
        | {100 + i: 100 for i in range(10)}
    )

def test_connected_components_raises_on_non_convergence(spark, one_task_off):
    """ADVICE r4: silently returning un-converged labels under-merges
    clusters. A long path graph with max_iter too small must raise, not
    return partial components."""
    import pytest as _pytest

    from ergo_uexplorer_spark.operators.graph import connected_components

    path_edges = [(i, i + 1) for i in range(8)]
    df = spark.createDataFrame(path_edges, "doc_a long, doc_b long")
    # the raise contract belongs to the DISTRIBUTED loop: the one-task
    # union-find tier has no round budget (it is exact regardless of
    # diameter), and since r12 the gate actually fires on small inputs
    # (checkpoint-backed sizes are now visible to it), so force the
    # distributed path for the non-convergence pin
    with one_task_off(), _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=2)
    ok = connected_components(df, max_iter=20)
    assert {r["component"] for r in ok.collect()} == {0}
    # the auto-gated tier on the same tiny graph is exact even at a
    # round budget the distributed loop cannot meet
    tiny = connected_components(df, max_iter=2)
    assert {r["component"] for r in tiny.collect()} == {0}

def test_motif_join_order_greedy_most_selective_first():
    """r4 verdict #4: positive motif terms chain by estimated cost —
    smallest term starts, connectable terms binding MORE bound vertices
    win (2-key equi-join beats 1-key), size then registration order as
    tiebreaks."""
    from ergo_uexplorer_spark.operators.graph import _order_motif_terms

    names = [{"a", "b"}, {"b", "c"}, {"a", "c"}]
    # start at the smallest (idx 1), then idx 2 (shares c, smaller than
    # idx 0), then idx 0 (by then a 2-key join on {a, b})
    assert _order_motif_terms(names, [300, 100, 200]) == [1, 2, 0]
    # equal sizes: registration order preserved (old plans unchanged)
    assert _order_motif_terms(names, [100, 100, 100]) == [0, 1, 2]
    # 2-key preference: after {a,b}, term {a,b} again (2 shared) beats
    # the smaller 1-key term {b,c}
    names2 = [{"a", "b"}, {"b", "c"}, {"a", "b"}]
    assert _order_motif_terms(names2, [100, 50, 400]) == [1, 0, 2]
    # names2: start idx1 (50); conn: 0 (shares b, 1key, 100), 2 (shares b, 1key, 400) -> 0; then 2 shares {a,b} 2 keys
    # unknown sizes sort last among ties
    assert _order_motif_terms(names, [None, 100, 200]) == [1, 2, 0]


def test_motif_size_estimate_distinguishes_term_width(spark, tmp_path):
    """The ordering signal is real on file-backed graphs (the scale
    case — in-memory LocalRelations report unknown size and fall to the
    registration-order tiebreak): a term carrying the named-edge struct
    has a larger Catalyst size estimate than a vertex-only term, so
    wide terms join later."""
    from pyspark.sql import functions as F

    from ergo_uexplorer_spark.operators.sizing import plan_bytes

    p = str(tmp_path / "edges.parquet")
    spark.createDataFrame(
        [("a%d" % i, "b%d" % (i % 3), "in", i) for i in range(100)],
        "src string, dst string, direction string, value long",
    ).write.parquet(p)
    edges = spark.read.parquet(p)
    wide = edges.select(
        "src", "dst",
        F.struct(*[F.col(c) for c in edges.columns]).alias("e"),
    )
    narrow = edges.select("src", "dst")
    sw, sn = plan_bytes(wide), plan_bytes(narrow)
    assert sw is not None and sn is not None and sw > sn


def test_motif_results_invariant_under_reordering(spark):
    """Join reordering must not change the result multiset."""
    from ergo_uexplorer_spark.operators.graph import motif_find

    rows = [("c1", "o1"), ("c1", "o2"), ("o1", "s1"), ("o2", "s1"),
            ("o2", "s2"), ("c1", "s2"), ("c2", "o1")]
    edges = spark.createDataFrame(rows, "src string, dst string")
    got = {
        tuple(r)
        for r in motif_find(
            edges, "(c)-[]->(o); (o)-[]->(s); !(c)-[]->(s)"
        ).select("c", "o", "s").collect()
    }
    assert got == {("c1", "o1", "s1"), ("c1", "o2", "s1"),
                   ("c2", "o1", "s1")}


def test_triangle_count_orientation_invariant(spark):
    """id-orientation (oracle path) and degree-orientation (the
    skew-bounded 100 TB path) must count the same triangles; sanity
    value pinned on a known graph (K4 = 4 triangles + a pendant)."""
    from ergo_uexplorer_spark.operators.graph import triangle_count

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
         ("c", "d"), ("d", "e")],
        "src string, dst string",
    )
    n_id = triangle_count(edges, orient="id").first()["n_triangles"]
    n_deg = triangle_count(edges, orient="degree").first()["n_triangles"]
    assert n_id == 4 and n_deg == 4


def test_motif_broadcasts_small_checkpointed_edges(spark):
    """r13: a checkpoint-backed edge table whose real block-manager
    bytes fit the broadcast threshold must chain with BroadcastHashJoin
    (a stat-less LogicalRDD formerly forced SortMergeJoin); results are
    covered by the equivalence tests above — this pins the plan shape."""
    import io
    import re
    from contextlib import redirect_stdout

    from ergo_uexplorer_spark.operators.graph import motif_find

    rows = [("c1", "o1"), ("o1", "s1"), ("c2", "o1"), ("o1", "s2")]
    edges = spark.createDataFrame(
        rows, "src string, dst string"
    ).localCheckpoint(eager=True)
    out = motif_find(edges, "(c)-[]->(o); (o)-[]->(s)")
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert re.search(r"BroadcastHashJoin", plan), plan
    assert not re.search(r"SortMergeJoin", plan), plan
