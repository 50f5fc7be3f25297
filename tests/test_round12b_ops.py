"""Round-12 OPTIMIZATION additions: the bipartite pair-count
one-Arrow-task tier shared by `common_neighbor_links` (zya8) and
`cooccurrence_pairs` (zya6) — gated on measured wedge volume like the
z42 triangle tier — plus the restructured single-exchange resample /
interpolation operators and the stacked RFM rank pass (equality with
the former shapes is pinned by the existing operator tests; here we
pin local == distributed for the new tier)."""

import random

from pyspark.sql import functions as F

from ergo_uexplorer_spark.operators import graph as G
from ergo_uexplorer_spark.operators import sizing
from ergo_uexplorer_spark.operators.graph import cooccurrence_pairs


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _non_ascii(col):
    """String ids led by "Z", "a" or "é" (one, one and two UTF-8 bytes),
    so value order differs from first-seen order."""
    return f"concat(substr('Zaé', {col} % 3 + 1, 1), {col}) {col}"


def _bipartite(spark):
    random.seed(11)
    edges = [
        (random.randint(0, 40), random.randint(0, 25)) for _ in range(600)
    ]
    # duplicates, null left, null right, null both
    edges += edges[:25]
    edges += [(None, 3), (7, None), (None, None), (7, None), (8, None)]
    return spark.createDataFrame(edges, "l long, r long")


def test_pair_tier_links_equals_distributed(spark, one_task_off):
    """common_neighbor_links local kernel must be row-identical to the
    distributed wedge join on duplicate edges and null endpoints —
    including degrees, which count NULL-right rows exactly like the
    distributed groupBy."""
    df = _bipartite(spark)
    for mc in (1, 2, 4):
        ts: dict = {}
        loc = G.common_neighbor_links(
            df, "l", "r", min_common=mc, tier_stats=ts
        )
        with one_task_off():
            dist = G.common_neighbor_links(df, "l", "r", min_common=mc)
        assert ts["local"] is True
        assert _rows(loc) == _rows(dist)


def test_pair_tier_links_string_and_big_ids(spark, one_task_off):
    """String ids order lexicographically ("10" < "9" never leaks into
    the value-ordered output) and ids past 2^53 survive the Arrow
    boundary (string round-trip)."""

    def assert_local_equals_distributed(edges, min_common):
        ts: dict = {}
        loc = _rows(
            G.common_neighbor_links(
                edges, "l", "r", min_common=min_common, tier_stats=ts
            )
        )
        assert ts["local"] is True
        with one_task_off():
            dist = _rows(
                G.common_neighbor_links(edges, "l", "r", min_common=min_common)
            )
        assert loc == dist

    df = _bipartite(spark)
    sdf = df.selectExpr("cast(l as string) l", "cast(r as string) r")
    assert_local_equals_distributed(sdf, 2)
    big = spark.createDataFrame(
        [
            (2**53 + a, b)
            for a, b in [(1, 1), (2, 1), (10, 1), (9, 1), (1, 2), (2, 2)]
        ],
        "l long, r long",
    )
    assert_local_equals_distributed(big, 1)
    # mixed column types: string left ids over integral right ids (the
    # kernel encodes each column independently)
    mixed = df.selectExpr("cast(l as string) l", "r")
    assert_local_equals_distributed(mixed, 2)
    # non-ASCII string ids: node_a < node_b in Spark's bytewise order
    uni = df.selectExpr(_non_ascii("l"), "r")
    assert_local_equals_distributed(uni, 2)


def test_pair_tier_gate_refuses_high_wedge_volume(spark, monkeypatch):
    """A one-task-sized edge table over the wedge budget must stay on
    the distributed path (and still be correct)."""
    star = spark.createDataFrame(
        [(i, 0) for i in range(60)], "l long, r long"
    )
    monkeypatch.setattr(sizing, "PAIRS_WEDGE_BUDGET", 100)
    ts: dict = {}
    out = G.common_neighbor_links(star, "l", "r", min_common=1,
                                  hub_guard="off", tier_stats=ts)
    rows = out.collect()
    assert ts["local"] is False
    assert ts["wedges"] == 60 * 60
    assert len(rows) == 60 * 59 // 2


def test_pair_tier_respects_hub_cap(spark, one_task_off, monkeypatch):
    """When the auto hub guard trips, the local kernel must see the
    CAPPED edge set — identical to the distributed capped result."""
    # one supernode right (degree 70) over a floor-4/ratio-2 guard
    edges = [(i, 0) for i in range(70)]
    edges += [(i, 1 + i % 5) for i in range(25)]
    df = spark.createDataFrame(edges, "l long, r long")
    monkeypatch.setattr(G, "HUB_FLOOR", 4)
    monkeypatch.setattr(G, "HUB_RATIO", 2)
    gs_l: dict = {}
    ts: dict = {}
    loc = G.common_neighbor_links(
        df, "l", "r", min_common=1, guard_stats=gs_l, tier_stats=ts
    )
    gs_d: dict = {}
    with one_task_off():
        dist = G.common_neighbor_links(
            df, "l", "r", min_common=1, guard_stats=gs_d
        )
    assert gs_l["tripped"] and gs_d["tripped"]
    assert ts["local"] is True
    # post-cap wedge volume only (the capped hub contributes none)
    assert ts["wedges"] == gs_l["total_wedges"] - gs_l["dropped_wedges"]
    assert _rows(loc) == _rows(dist)


def test_cooccurrence_pairs_local_equals_distributed(spark, one_task_off):
    """The fused kernel (distinct + a-priori prune + pair count) must
    equal the distributed join for every support level, including null
    baskets/items and duplicate rows, and for string ids."""
    df = _bipartite(spark).selectExpr("r as basket", "l as item")
    for support in (1, 2, 3, 5):
        ts: dict = {}
        loc = cooccurrence_pairs(
            df, "basket", "item", support, tier_stats=ts
        )
        with one_task_off():
            dist = cooccurrence_pairs(df, "basket", "item", support)
        assert ts["local"] is True
        assert _rows(loc) == _rows(dist)
    sdf = df.selectExpr(
        "cast(basket as string) basket", "cast(item as string) item"
    )
    # items past 2^53 (exact int64 ingest) and non-ASCII string items
    big = df.selectExpr("basket", "item + 9007199254740993 as item")
    uni = df.selectExpr("basket", _non_ascii("item"))
    for other in (sdf, big, uni):
        ts = {}
        loc = cooccurrence_pairs(other, "basket", "item", 2, tier_stats=ts)
        with one_task_off():
            dist = cooccurrence_pairs(other, "basket", "item", 2)
        assert _rows(loc) == _rows(dist)
        assert ts["local"] is True


def test_cooccurrence_pairs_gate_refusal(spark, monkeypatch):
    star = spark.createDataFrame(
        [(0, i) for i in range(40)], "basket long, item long"
    )
    monkeypatch.setattr(sizing, "PAIRS_WEDGE_BUDGET", 10)
    ts: dict = {}
    out = cooccurrence_pairs(star, "basket", "item", 1, tier_stats=ts)
    assert ts["local"] is False
    assert out.count() == 40 * 39 // 2


def test_assortativity_regrouped_equals_edge_join_form(spark):
    """degree_assortativity_stats (r12 per-node regrouping + pinned
    symmetrized edge list) must match the former two-equi-join edge
    form on hostile inputs: NULL endpoints (degrees count NULL-neighbor
    rows, pairs never include them), self-loops, duplicate edges."""
    random.seed(12)
    rows = [(random.randint(0, 30), random.randint(0, 30)) for _ in range(200)]
    rows += rows[:20] + [(5, 5), (None, 3), (9, None), (None, None)]
    e = spark.createDataFrame(rows, "src long, dst long")

    got = G.degree_assortativity_stats(e).collect()[0]

    # reference: the former shape, computed literally
    und = (
        e.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .unionByName(e.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        .distinct()
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    pairs = (
        und.join(deg.select("u", F.col("d").alias("ju")), "u")
        .join(deg.select(F.col("u").alias("v"), F.col("d").alias("kv")), "v")
    )
    big = lambda c: F.sum(c.cast("decimal(38,0)")).cast("decimal(38,0)")
    exp = pairs.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("ju").cast("bigint").alias("sum_j"),
        F.sum("kv").cast("bigint").alias("sum_k"),
        big(F.col("ju") * F.col("kv")).cast("string").alias("sum_jk"),
        big(F.col("ju") * F.col("ju")).cast("string").alias("sum_j2"),
        big(F.col("kv") * F.col("kv")).cast("string").alias("sum_k2"),
    ).collect()[0]
    assert tuple(got) == tuple(exp)


def test_assortativity_empty_edges(spark):
    e = spark.createDataFrame([], "src long, dst long")
    row = G.degree_assortativity_stats(e).collect()[0]
    assert row.m == 0 and row.sum_j is None and row.sum_jk is None


def test_assortativity_canonical_flag_equals_default(spark):
    """r13: edges_canonical=True (skip the symmetrize distinct) must be
    bit-equal to the default path on input that satisfies the contract
    (distinct rows, src strictly < dst)."""
    from ergo_uexplorer_spark.operators import graph as G

    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (2, 5), (3, 4), (4, 9)],
        "src long, dst long",
    )
    a = G.degree_assortativity_stats(e).collect()[0]
    b = G.degree_assortativity_stats(e, edges_canonical=True).collect()[0]
    assert a.asDict() == b.asDict()
