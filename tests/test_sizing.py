"""The sizing module: its JVM probes read real numbers on the installed
PySpark, and the one-task gate admits small inputs at the default budget
and refuses every input at a budget of 0."""

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

    cached = spark.range(2000).persist()
    cached.count()
    cache_bytes = sizing.cache_bytes(cached)
    assert isinstance(cache_bytes, int) and cache_bytes > 0
    cached.unpersist()

    free = sizing.free_storage_bytes(spark)
    assert isinstance(free, int) and free > 0


def test_materialized_bytes_after_plan_probe_then_persist(spark):
    """A persisted, computed frame reads as materialized even when its
    plan was inspected before `persist()`: Spark keeps the first
    optimized plan it computes for a Dataset, so a size read through
    that plan would miss the cache added later."""
    df = spark.range(20_000).selectExpr("id as a", "id * 2 as b")
    assert sizing.plan_bytes(df) is not None
    df.persist()
    df.count()
    try:
        size = sizing.materialized_bytes(df)
        assert size is not None and size > 0
    finally:
        df.unpersist()


def _run_families(edges, baskets, groups) -> list[bool]:
    """Run every family once → the tier each one that reports its tier
    chose (True: one-task)."""
    stats: dict = {}
    G.pagerank_int(edges, iters=3, stats=stats).collect()
    local = [stats["local"]]
    G.k_hop_neighbors(edges, [0], 2).collect()
    G.connected_components(edges, "src", "dst").collect()
    G.kcore(edges, 2, "src", "dst").collect()
    for run in (
        lambda ts: G.triangle_count(edges, tier_stats=ts),
        lambda ts: G.cooccurrence_triangles(groups, tier_stats=ts),
        lambda ts: G.common_neighbor_links(edges, "src", "dst", tier_stats=ts),
        lambda ts: G.cooccurrence_pairs(
            baskets, "basket", "item", 2, tier_stats=ts
        ),
    ):
        ts: dict = {}
        run(ts).collect()
        local.append(ts["local"])
    return local


def test_one_task_budget_zero_runs_no_kernel(
    spark, one_task_off, kernel_calls
):
    """Both sides of the one-task gate, on the same small inputs without
    plan statistics (a frame over a Python list, whose plan estimate is
    unknown): with the budget at 0 no family reaches its one-task
    kernel; at the default budget every family does."""
    kernels = sorted(n for n in dir(G) if n.endswith("_local_arrow"))
    assert len(kernels) == 7
    rows = [(i, (7 * i + 3) % 40) for i in range(160)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    baskets = edges.selectExpr("src % 30 as basket", "dst as item")
    groups = spark.createDataFrame(
        [([i % 9, (i + 1) % 9, (i + 3) % 9],) for i in range(160)],
        "items array<long>",
    )
    assert sizing.plan_bytes(edges) is None
    assert sizing.plan_bytes(baskets) is None

    calls = {name: kernel_calls(name) for name in kernels}
    with one_task_off():
        assert _run_families(edges, baskets, groups) == [False] * 5
    assert all(not c for c in calls.values()), calls

    assert _run_families(edges, baskets, groups) == [True] * 5
    # pair_count serves both link prediction and cooccurrence_pairs
    assert {n: len(c) for n, c in calls.items()} == {
        n: 2 if n == "_pair_count_local_arrow" else 1 for n in kernels
    }
