"""The sizing module: its JVM probes read real numbers on the installed
PySpark, and a one-task budget of 0 turns every one-task tier off."""

from ergo_uexplorer_spark.operators import graph as G
from ergo_uexplorer_spark.operators import sizing


def test_probes_read_positive_sizes(spark, tmp_path):
    """Each private-JVM probe returns a positive int here. A drifted
    probe returns None or 0 without an error, and every tier it gates
    silently turns off."""
    ck = spark.range(2000).localCheckpoint(eager=True)
    ck_bytes = sizing.checkpoint_bytes(ck)
    assert isinstance(ck_bytes, int) and ck_bytes > 0

    p = str(tmp_path / "t.parquet")
    spark.range(2000).write.parquet(p)
    scan_bytes = sizing.plan_bytes(spark.read.parquet(p))
    assert isinstance(scan_bytes, int) and scan_bytes > 0

    free = sizing.free_storage_bytes(spark)
    assert isinstance(free, int) and free > 0


def test_one_task_budget_zero_runs_no_kernel(spark, one_task_off, monkeypatch):
    """With the budget at 0 no family may reach its one-task kernel, on
    an input without plan statistics too (a frame over a Python list,
    whose plan estimate is unknown)."""
    kernels = [n for n in dir(G) if n.endswith("_local_arrow")]
    assert len(kernels) == 7

    def refuse(*_a, **_k):
        raise AssertionError("one-task kernel ran with the budget at 0")

    for name in kernels:
        monkeypatch.setattr(G, name, refuse)
    rows = [(i, (7 * i + 3) % 40) for i in range(160)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    baskets = edges.selectExpr("src % 30 as basket", "dst as item")
    groups = spark.createDataFrame(
        [([i % 9, (i + 1) % 9, (i + 3) % 9],) for i in range(160)],
        "items array<long>",
    )
    assert sizing.plan_bytes(edges) is None
    assert sizing.plan_bytes(baskets) is None
    with one_task_off():
        stats: dict = {}
        G.pagerank_int(edges, iters=3, stats=stats).collect()
        assert stats["local"] is False
        G.k_hop_neighbors(edges, [0], 2).collect()
        G.connected_components(edges, "src", "dst").collect()
        G.kcore(edges, 2, "src", "dst").collect()
        for run in (
            lambda ts: G.triangle_count(edges, tier_stats=ts),
            lambda ts: G.cooccurrence_triangles(groups, tier_stats=ts),
            lambda ts: G.common_neighbor_links(
                edges, "src", "dst", tier_stats=ts
            ),
            lambda ts: G.cooccurrence_pairs(
                baskets, "basket", "item", 2, tier_stats=ts
            ),
        ):
            ts: dict = {}
            run(ts).collect()
            assert ts["local"] is False

