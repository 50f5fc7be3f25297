"""Box/stats/graph/alert query surface over the synthetic chain
(the reference's route-level invariant tests, BoxRoutesSpec/
StatsRoutesSpec shapes)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ergo_uexplorer_spark import api
from ergo_uexplorer_spark.constants import EXCHANGE_PK, FEE_TREE
from ergo_uexplorer_spark.fixtures.chaingen import (
    ChainGen,
    p2pk_tree,
    write_jsonl_gz,
)
from ergo_uexplorer_spark.functions.crypto import _tree_to_address
from ergo_uexplorer_spark.operators import boxes as B
from ergo_uexplorer_spark.operators import normalize as N
from ergo_uexplorer_spark.operators.alerts import high_value_txs
from ergo_uexplorer_spark.operators.graph import (
    graph_edges,
    graph_vertices,
    two_hop_neighbors,
)
from ergo_uexplorer_spark.operators.stats import (
    hot_keys,
    top_addresses_by_utxo_count,
    top_addresses_by_value,
    top_tokens_by_box_count,
)
from ergo_uexplorer_spark.operators.utxo import with_spent_height
from ergo_uexplorer_spark.pipeline import ingest_blocks
from ergo_uexplorer_spark.sources.blocks import read_blocks

N_BLOCKS = 200


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("qchain")
    gen = ChainGen(seed=11)
    gen.generate(N_BLOCKS)
    path = write_jsonl_gz(gen.blocks, str(d / "chain.jsonl.gz"))
    return ingest_blocks(spark, path)


# the tables an explorer holds in memory to serve every route
SERVE_TABLES = ("boxes_main", "assets", "blocks", "address_stats")


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    """The ingest's serving tables, persisted and filled."""
    d = tmp_path_factory.mktemp("served")
    gen = ChainGen(seed=11)
    gen.generate(N_BLOCKS)
    path = write_jsonl_gz(gen.blocks, str(d / "chain.jsonl.gz"))
    ingested = ingest_blocks(spark, path, cache="raw")
    held = {name: ingested[name].persist() for name in SERVE_TABLES}
    for df in held.values():
        df.count()
    yield held
    for df in [*held.values(), ingested["raw"]]:
        df.unpersist()


EXCHANGE_ADDR = _tree_to_address(p2pk_tree(EXCHANGE_PK))


def test_liveness_partition_per_key(tables):
    """|spent| + |unspent| = |any| for every key kind (BoxRoutesSpec
    invariant)."""
    for kind, keys in [
        ("address", [EXCHANGE_ADDR]),
        ("ergo_tree", [FEE_TREE]),
    ]:
        n_any = B.select_boxes(tables, "any", kind, keys).count()
        n_spent = B.select_boxes(tables, "spent", kind, keys).count()
        n_unspent = B.select_boxes(tables, "unspent", kind, keys).count()
        assert n_any == n_spent + n_unspent, kind
        assert n_any > 0, kind


def test_exchange_never_spent(tables):
    """Fixture semantics: exchange deposits accumulate."""
    assert B.select_boxes(tables, "spent", "address", [EXCHANGE_ADDR]).count() == 0
    assert B.select_boxes(tables, "unspent", "address", [EXCHANGE_ADDR]).count() > 100


def test_box_id_lookup_roundtrip(tables):
    some = [r["box_id"] for r in tables["utxo"].select("box_id").limit(5).collect()]
    got = B.select_boxes(tables, "unspent", "box_id", some)
    assert got.count() == len(some)
    assert B.is_empty(B.select_boxes(tables, "spent", "box_id", some))


def test_token_and_template_queries(tables):
    token = tables["tokens"].first()["token_id"]
    holders = B.select_boxes(tables, "any", "token_id", [token])
    assert holders.count() >= 1
    t8 = (
        tables["ergo_trees"]
        .filter(F.col("ergo_tree_t8_hash").isNotNull())
        .first()["ergo_tree_t8_hash"]
    )
    assert B.select_boxes(tables, "any", "template_hash", [t8]).count() > 0


def test_dynamic_params_whitelist(tables):
    r4_box = (
        tables["boxes_main"].filter(F.col("r4").isNotNull()).first()
    )
    got = B.select_boxes(tables, "any", params={"r4": r4_box["r4"]})
    assert got.count() >= 1
    with pytest.raises(ValueError):
        B.select_boxes(tables, "any", params={"value": "1"})


def test_response_assembly(tables):
    token = tables["tokens"].first()["token_id"]
    out = B.boxes_with_assets(tables, "any", "token_id", [token]).first()
    assert out["assets"][0]["token_id"] is not None
    assert out["block_timestamp"] is not None


def test_blocks_endpoints(tables):
    last = B.last_blocks(tables, 10)
    heights = [r["height"] for r in last.collect()]
    assert heights == list(range(N_BLOCKS, N_BLOCKS - 10, -1))
    info = B.chain_info(tables).first()
    assert info["last_height"] == N_BLOCKS
    got = B.blocks_by_ids(tables, [last.first()["block_id"]])
    assert got.count() == 1


def test_stats_topk(tables):
    stats = tables["address_stats"]
    top_c = top_addresses_by_utxo_count(stats, min_count=1, k=10)
    assert top_c.first()["address"] == EXCHANGE_ADDR
    top_v = top_addresses_by_value(stats, min_erg=1, k=10)
    assert top_v.count() == 10
    hk = hot_keys(stats)
    assert hk.count() >= 0  # threshold 500 needs a longer chain


def test_graph(tables):
    edges = graph_edges(tables["boxes_main"], tables["inputs_main"])
    assert edges.filter("direction = 'in'").count() > 0
    assert edges.filter("direction = 'out'").count() > 0
    # no protocol addresses in the graph
    fee_hash = B.tree_sha256(FEE_TREE)
    assert edges.filter(
        (F.col("src") == fee_hash) | (F.col("dst") == fee_hash)
    ).count() == 0
    verts = graph_vertices(edges)
    assert verts.count() > 0
    exchange_hash = B.tree_sha256(p2pk_tree(EXCHANGE_PK))
    # exchange never spends → no outgoing 'in' edges, but appears as dst
    assert edges.filter(F.col("dst") == exchange_hash).count() > 0
    # traversal from a spending address
    some_src = edges.filter("direction = 'in'").first()["src"]
    neigh = two_hop_neighbors(edges, some_src)
    assert neigh.count() >= 0


def test_high_value_alerts(tables):
    alerts = high_value_txs(
        tables["boxes_main"], tables["inputs_main"], threshold_nano=10**9
    )
    rows = alerts.collect()
    assert len(rows) > 0
    for r in rows[:5]:
        assert r["moved_value"] >= 10**9
        assert len(r["out_addresses"]) >= 1


def test_k_hop_traversal(tables):
    from ergo_uexplorer_spark.operators.graph import k_hop_neighbors

    edges = graph_edges(tables["boxes_main"], tables["inputs_main"])
    some_src = edges.filter("direction = 'in'").first()["src"]
    # 2 directed hops (addr -> tx -> addr) must cover two_hop_neighbors
    k2 = k_hop_neighbors(edges, [some_src], k=2)
    k2_ids = {r["id"] for r in k2.collect()}
    legacy = {r["neighbor"] for r in two_hop_neighbors(edges, some_src).collect()}
    assert legacy <= k2_ids
    # hops are BFS levels: start at 0, monotone, bounded by k
    by_hop = {r["id"]: r["hops"] for r in k2.collect()}
    assert by_hop[some_src] == 0
    assert all(0 <= h <= 2 for h in by_hop.values())
    # growing k never loses nodes and never raises a node's level
    k4 = {r["id"]: r["hops"] for r in
          k_hop_neighbors(edges, [some_src], k=4).collect()}
    assert set(by_hop) <= set(k4)
    assert all(k4[n] == h for n, h in by_hop.items())


def test_co_spend_wedge_motif(tables):
    from ergo_uexplorer_spark.operators.graph import co_spend_pairs

    edges = graph_edges(tables["boxes_main"], tables["inputs_main"])
    pairs = co_spend_pairs(edges)
    rows = pairs.collect()
    # cross-check against a driver-side recompute on the small fixture
    ins = edges.filter("direction = 'in'").select("src", "dst").collect()
    by_tx = {}
    for r in ins:
        by_tx.setdefault(r["dst"], set()).add(r["src"])
    expect = {}
    for addrs in by_tx.values():
        for a in addrs:
            for b in addrs:
                if a < b:
                    expect[(a, b)] = expect.get((a, b), 0) + 1
    got = {(r["addr_a"], r["addr_b"]): r["n_txs"] for r in rows}
    assert got == expect
    assert all(a < b for a, b in got)


def test_resample_gap_fill_locf_and_leading_nulls(spark):
    """Planted gaps: filled buckets carry the last observation
    (observed=False), leading buckets before a key's first observation
    stay null, dense keys pass through unchanged. (The suite oracle's
    events data is dense, so the fill path needs this targeted case.)"""
    from ergo_uexplorer_spark.operators.joins import resample_gap_fill

    obs = spark.createDataFrame(
        [("a", 10, 5), ("a", 13, 7), ("b", 2, 1), ("b", 3, 2)],
        "k string, bucket long, v long",
    )
    rows = {
        (r["k"], r["bucket"]): (r["v"], r["observed"])
        for r in resample_gap_fill(obs, "k", "bucket", ["v"]).collect()
    }
    assert rows[("a", 10)] == (5, True)
    assert rows[("a", 11)] == (5, False)   # filled forward
    assert rows[("a", 12)] == (5, False)
    assert rows[("a", 13)] == (7, True)
    assert rows[("b", 2)] == (1, True) and rows[("b", 3)] == (2, True)
    assert len(rows) == 6  # no buckets invented outside [min, max]


def test_resample_gap_fill_preserves_observed_nulls(spark):
    """An observed row whose value is genuinely NULL must stay NULL
    (observed=true) — not be overwritten by the previous bucket's value
    — and a gap AFTER it carries that NULL forward (the most recent
    observed row's value), exactly like the ASOF-join oracle."""
    from ergo_uexplorer_spark.operators.joins import resample_gap_fill

    obs = spark.createDataFrame(
        [("a", 1, 5), ("a", 2, None), ("a", 4, 9)],
        "k string, bucket long, v long",
    )
    rows = {
        (r["k"], r["bucket"]): (r["v"], r["observed"])
        for r in resample_gap_fill(obs, "k", "bucket", ["v"]).collect()
    }
    assert rows[("a", 1)] == (5, True)
    assert rows[("a", 2)] == (None, True)   # observed NULL survives
    assert rows[("a", 3)] == (None, False)  # gap carries the NULL row
    assert rows[("a", 4)] == (9, True)


def test_resample_gap_fill_null_key_join_miss(spark):
    """NULL-key rows reproduce the grid-LEFT-JOIN formulation: a NULL
    equi-key never matches, so every NULL-key grid row carries NULL
    values and observed=false — even the buckets where the NULL-key
    group has observations (r12 dirty-sweep catch: the window-based
    rewrite treated NULL as a real partition)."""
    from ergo_uexplorer_spark.operators.joins import resample_gap_fill

    obs = spark.createDataFrame(
        [(None, 1, 5), (None, 3, 7), ("a", 2, 9)],
        "k string, bucket long, v long",
    )
    rows = {
        (r["k"], r["bucket"]): (r["v"], r["observed"])
        for r in resample_gap_fill(obs, "k", "bucket", ["v"]).collect()
    }
    assert rows[(None, 1)] == (None, False)
    assert rows[(None, 2)] == (None, False)
    assert rows[(None, 3)] == (None, False)
    assert rows[("a", 2)] == (9, True)
    assert len(rows) == 4


def test_boxes_with_assets_probe_equals_join(tables):
    """probe_ids=True (the interactive B-tree-probe strategy, r11) must
    return exactly the plain-join result — pre-filtering assets to the
    selected box ids cannot change a left join keyed on those ids."""
    plain = B.boxes_with_assets(
        tables, liveness="unspent", key_kind="address", keys=[EXCHANGE_ADDR]
    )
    probed = B.boxes_with_assets(
        tables,
        liveness="unspent",
        key_kind="address",
        keys=[EXCHANGE_ADDR],
        probe_ids=True,
    )
    a = sorted(map(repr, plain.collect()))
    b = sorted(map(repr, probed.collect()))
    assert a == b and a
    # past the cap the probe falls back to the plain join, same result
    capped = B.boxes_with_assets(
        tables,
        liveness="unspent",
        key_kind="address",
        keys=[EXCHANGE_ADDR],
        probe_ids=True,
        probe_cap=1,
    )
    assert sorted(map(repr, capped.collect())) == a


def test_box_ids_token_probe_equals_semi_join(tables):
    """select_boxes(probe_ids=True) for the token lookup (r11) must
    return exactly the semi-join result — membership in the collected
    holder set IS the semi-join predicate; past the cap it falls back."""
    tok = (
        tables["assets"].select("token_id").limit(1).collect()[0]["token_id"]
    )
    plain = sorted(
        r["box_id"]
        for r in B.box_ids(tables, key_kind="token_id", keys=[tok]).collect()
    )
    probed = sorted(
        r["box_id"]
        for r in B.box_ids(
            tables, key_kind="token_id", keys=[tok], probe_ids=True
        ).collect()
    )
    assert plain == probed and plain
    capped = sorted(
        r["box_id"]
        for r in B.select_boxes(
            tables,
            key_kind="token_id",
            keys=[tok],
            columns=["box_id"],
            probe_ids=True,
            probe_cap=0,
        ).collect()
    )
    assert capped == plain


def test_token_route_duplicate_holder_row(tables):
    """A box listed twice for the same token in `assets` is returned
    once by the token route, and the semi-join equals the id probe both
    under and over its cap."""
    assets = tables["assets"]
    first = assets.select("token_id", "box_id").limit(1).collect()[0]
    tok, box = first["token_id"], first["box_id"]
    dup = assets.filter(
        (F.col("token_id") == tok) & (F.col("box_id") == box)
    ).limit(1)
    doubled = {**tables, "assets": assets.unionByName(dup)}

    def ids(**kw) -> list[str]:
        df = B.select_boxes(
            doubled, key_kind="token_id", keys=[tok], columns=["box_id"], **kw
        )
        return sorted(r["box_id"] for r in df.collect())

    served = sorted(
        r["box_id"]
        for r in api.endpoint(
            doubled, "box-ids/any/by-token-id", keys=[tok]
        ).collect()
    )
    assert served.count(box) == 1
    assert served == ids(probe_ids=True) == ids(probe_ids=True, probe_cap=0)


def _jobs(spark, group: str, action) -> int:
    """Spark jobs `action()` runs, counted under a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # feeds the status store
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_served_route_job_budget(spark, served):
    """Over persisted serving tables, the block, info, top-address and
    box-liveness routes answer in one job (liveness is a filter on
    `boxes_main.spent_height`), and the token route in at most two (a
    broadcast of the holder side, then the scan): AQE coalesces the
    small cached tables, and nothing pins extra lineage to `blocks`."""
    blocks = served["blocks"].orderBy("height").collect()
    tip = blocks[-1]["block_id"]
    box = served["boxes_main"].select("box_id").limit(1).collect()[0][0]
    tok = served["assets"].select("token_id").limit(1).collect()[0][0]
    budget = [
        ("blocks/latest", None, 1),
        ("blocks/by-id", tip, 1),
        ("blocks/by-id", blocks[0]["block_id"], 1),
        ("info", None, 1),
        ("stats/top-addresses/by-box-count", None, 1),
        ("stats/top-addresses/by-value", None, 1),
        ("boxes/unspent/by-id", box, 1),
        ("boxes/unspent/by-address", EXCHANGE_ADDR, 1),
        ("boxes/spent/by-address", EXCHANGE_ADDR, 1),
        ("box-ids/any/by-token-id", tok, 2),
    ]
    over = []
    for i, (route, key, most) in enumerate(budget):
        df = api.endpoint(
            served, route, keys=[key] if key is not None else None, limit=50
        )
        n = _jobs(spark, f"serve:{i}:{route}", lambda: df.limit(50).collect())
        if not 1 <= n <= most:
            over.append((route, n, most))
    assert not over, over


def test_spent_route_duplicate_input_row(tables):
    """An input row listed twice (once more at a higher height) leaves
    one box row: the spent route returns the box once, at the lowest
    spending height."""
    inputs = tables["inputs_main"]
    spent = tables["boxes_main"].filter(F.col("spent_height").isNotNull())
    box = spent.select("box_id").limit(1).collect()[0]["box_id"]
    row = inputs.filter(F.col("box_id") == box)
    doubled = inputs.unionByName(row).unionByName(
        row.withColumn("height", F.col("height") + 5)
    )
    boxes = with_spent_height(
        tables["boxes_main"].drop("spent_height"), doubled
    )
    served = {**tables, "boxes_main": boxes}
    rows = api.endpoint(served, "boxes/spent/by-id", keys=[box]).collect()
    assert [r["box_id"] for r in rows] == [box]
    heights = boxes.filter(F.col("box_id") == box).collect()
    assert [r["spent_height"] for r in heights] == [row.first()["height"]]


@pytest.fixture(scope="module")
def forked(spark, tmp_path_factory):
    """A dump whose losing branch (heights 60-70 of an 80-block main
    chain) spends main-chain boxes and carries token outputs, and a
    dump of the main chain alone: the main blocks, the branch blocks,
    the two dump paths and the forked dump's ingest."""
    d = tmp_path_factory.mktemp("forked")
    gen = ChainGen(seed=21)
    gen.generate(80)
    branch = [b for b in gen.fork(60, -10, "f") if b["header"]["height"] >= 60]
    path = write_jsonl_gz(gen.blocks + branch, str(d / "forked.jsonl.gz"))
    main_path = write_jsonl_gz(gen.blocks, str(d / "main.jsonl.gz"))
    return gen.blocks, branch, path, main_path, ingest_blocks(spark, path)


def _ids(blocks: list[dict], side: str) -> set[str]:
    return {
        x["boxId"] for b in blocks for t in b["transactions"] for x in t[side]
    }


def test_box_spent_only_on_losing_branch_is_unspent(forked):
    """A main-chain box spent only on the losing branch is unspent, and
    the live boxes by `spent_height` are exactly the `utxo` table."""
    main, branch, _, _, tables = forked
    fork_only = sorted(
        (_ids(branch, "inputs") & _ids(main, "outputs")) - _ids(main, "inputs")
    )
    assert fork_only
    unspent = api.endpoint(tables, "box-ids/unspent/by-id", keys=fork_only)
    assert sorted(r["box_id"] for r in unspent.collect()) == fork_only
    spent = api.endpoint(tables, "box-ids/spent/by-id", keys=fork_only)
    assert spent.count() == 0
    live = tables["boxes_main"].filter(F.col("spent_height").isNull())
    want = {r["box_id"] for r in tables["utxo"].select("box_id").collect()}
    assert {r["box_id"] for r in live.select("box_id").collect()} == want
    assert want


def test_top_tokens_route_counts_main_chain_only(spark, forked):
    """The top-tokens route over a forked ingest equals the same
    aggregate over the main-chain blocks alone, which differs from the
    aggregate over every block: the losing branch's token outputs
    count for nothing."""
    _, _, path, main_path, tables = forked

    def top(assets) -> list[tuple]:
        return [
            tuple(r) for r in top_tokens_by_box_count(assets, k=500).collect()
        ]

    want = top(N.assets(N.outputs(read_blocks(spark, main_path))))
    route = api.endpoint(tables, "stats/top-tokens/by-box-count")
    assert [tuple(r) for r in route.collect()] == want
    assert top(N.assets(N.outputs(read_blocks(spark, path)))) != want
