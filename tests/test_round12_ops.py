"""Round-12 additions: the z42 triangle one-Arrow-task tier gated on
WEDGE volume (r11 VERDICT #1), the fused market-basket operator
`cooccurrence_triangles`, the finite-overflow money quarantine lane
(r11 ADVICE), guard_stats totality (r11 ADVICE), the k-hop hop-0
driver-side seed emission (r11 ADVICE), and the dirty-menu growth
rows (hostile Unicode, pre-epoch timestamps, finite-overflow money —
r11 VERDICT #7)."""

import random

import pytest
from pyspark.sql import functions as F

from ergo_uexplorer_spark.operators import graph as G
from ergo_uexplorer_spark.operators import sizing


def _mixed_graph(spark):
    random.seed(7)
    edges = [
        (random.randint(0, 200), random.randint(0, 200))
        for _ in range(1500)
    ]
    edges += [(5, 5), (None, 3), (7, None), (None, None), (3, None)]
    return spark.createDataFrame(edges, "src long, dst long")


def test_triangle_local_tier_equals_distributed(spark, one_task_off):
    """The one-Arrow-task triangle kernel must be bit-equal to the
    distributed wedge join on duplicate edges, self-loops, null
    endpoints, both orientations, string ids, and ids past 2^53 (the
    Arrow float64 cliff — ints round-trip through strings)."""
    def both(edges, orient="id"):
        ts: dict = {}
        loc = G.triangle_count(edges, orient=orient, tier_stats=ts).collect()
        assert ts["local"] is True
        with one_task_off():
            dist = G.triangle_count(edges, orient=orient).collect()
        return loc[0]["n_triangles"], dist[0]["n_triangles"]

    df = _mixed_graph(spark)
    for orient in ("id", "degree"):
        loc, dist = both(df, orient)
        assert loc == dist

    sdf = df.selectExpr("cast(src as string) src", "cast(dst as string) dst")
    loc, dist = both(sdf)
    assert loc == dist

    big = spark.createDataFrame(
        [
            (2**53 + a, 2**53 + b)
            for a, b in [
                (1, 2), (2, 3), (1, 3), (3, 4), (4, 1), (2, 4), (9, 9)
            ]
        ],
        "src long, dst long",
    )
    loc, dist = both(big)
    assert loc == dist


def test_triangle_local_tier_sparse_kernel(spark, one_task_off):
    """n > 32k nodes forces the chunked compact-forward kernel (the
    dense bitset is capped at n ≤ 32k); equality must hold there too."""
    n = 40_000
    ring = [(i, (i + 1) % n) for i in range(n)]
    ring += [(i, (i + 2) % n) for i in range(0, n, 5)]
    rdf = spark.createDataFrame(ring, "src long, dst long")
    ts: dict = {}
    loc = G.triangle_count(rdf, tier_stats=ts).collect()
    assert ts["local"] is True
    with one_task_off():
        assert loc[0][0] == G.triangle_count(rdf).collect()[0][0]


def test_triangle_gate_refuses_high_wedge_volume(spark, monkeypatch):
    """The tier gate is keyed on Σdeg² (r11 VERDICT #1): a star graph
    whose edge table trivially fits the one-task budget must still be
    refused when its wedge volume exceeds the budget — a tiny edge
    table can carry a quadratic wedge load."""
    monkeypatch.setattr(sizing, "TRIANGLE_WEDGE_BUDGET", 100)
    star = spark.createDataFrame(
        [(0, i) for i in range(1, 50)], "src long, dst long"
    )
    ts: dict = {}
    out = G.triangle_count(star, tier_stats=ts).collect()
    assert ts["local"] is False
    assert ts["wedges"] == 49 * 49
    assert out[0]["n_triangles"] == 0


def test_triangle_empty_edges_one_row(spark):
    """Zero-partition / empty edge input must still yield the single
    (n_triangles=0) row the distributed aggregate produces — the total
    comes from an aggregate ABOVE the kernel, not from inside it."""
    empty = spark.createDataFrame([], "src long, dst long")
    kernel = G._triangle_local_arrow(empty.toDF("u", "v"), "id")
    assert kernel.collect()[0][0] == 0
    assert G.triangle_count(empty).collect()[0][0] == 0


@pytest.mark.parametrize(
    "family",
    ["k_hop", "pagerank", "triangle", "cooccurrence", "components", "kcore",
     "pairs"],
)
def test_one_task_kernels_equal_distributed_on_empty_input(
    spark, one_task_off, family
):
    """Every one-task kernel agrees with its distributed path on an
    empty edge frame, where the kernel sees no rows or no partitions.
    The gate admits no empty input (it needs a positive size), so each
    kernel is called directly on the projection its operator hands it,
    and the operator runs its distributed path with every one-task
    tier off."""
    edges = spark.createDataFrame([], "src long, dst long")
    groups = spark.createDataFrame([], "items array<long>")
    kernel, operator = {
        "k_hop": (
            lambda: G._k_hop_local_arrow(edges, [1, None], 2),
            lambda: G.k_hop_neighbors(edges, [1, None], 2),
        ),
        "pagerank": (
            lambda: G._pagerank_local_arrow(
                edges, 4, 150_000, 85, 100, 1_000_000, True, False
            ),
            lambda: G.pagerank_int(edges, iters=4, dangling=True),
        ),
        "triangle": (
            lambda: G._triangle_local_arrow(edges.toDF("u", "v"), "id"),
            lambda: G.triangle_count(edges),
        ),
        "cooccurrence": (
            lambda: G._cooccur_local_arrow(groups, 1),
            lambda: G.cooccurrence_triangles(groups),
        ),
        "components": (
            lambda: G._components_local_arrow(edges.toDF("u", "v")),
            lambda: G.connected_components(edges, "src", "dst"),
        ),
        "kcore": (
            lambda: G._kcore_local_arrow(edges.toDF("a", "b"), 2, 10),
            lambda: G.kcore(edges, 2, "src", "dst"),
        ),
        "pairs": (
            lambda: G._pair_count_local_arrow(
                edges.toDF("l", "r"), min_pair=2, with_degrees=True
            ).toDF("node_a", "node_b", "common", "deg_a", "deg_b"),
            lambda: G.common_neighbor_links(edges, "src", "dst"),
        ),
    }[family]
    loc = sorted(map(repr, kernel().collect()))
    with one_task_off():
        dist = sorted(map(repr, operator().collect()))
    assert loc == dist


def test_cooccurrence_triangles_local_equals_fallback(spark, one_task_off):
    """The fused one-task kernel (pair explode → support count →
    threshold → triangle count) must equal the distributed fallback
    (sorted-array pair explode + hash aggregate + triangle_count) on
    baskets with nulls, singletons, empties, and varying support."""
    random.seed(11)
    rows = []
    for i in range(400):
        k = random.randint(0, 6)
        rows.append((i, sorted(random.sample(range(40), k))))
    rows += [(1001, None), (1002, []), (1003, [7])]
    df = spark.createDataFrame(rows, "gid long, items array<long>")
    g = df.select("items")
    for support in (1, 2, 4):
        ts: dict = {}
        loc = G.cooccurrence_triangles(
            g, items="items", min_support=support, tier_stats=ts
        ).collect()[0]
        with one_task_off():
            dist = G.cooccurrence_triangles(
                g, items="items", min_support=support
            ).collect()[0]
        assert ts["local"] is True
        assert loc.asDict() == dist.asDict(), support


def test_cooccurrence_triangles_empty_and_string_items(spark, one_task_off):
    empty = spark.createDataFrame([], "items array<string>")
    row = G.cooccurrence_triangles(empty, items="items").collect()[0]
    assert (row["n_edges"], row["n_triangles"]) == (0, 0)

    s = spark.createDataFrame(
        [(["a", "b", "c"],)] * 3 + [(["b", "c", "d"],)] * 3,
        "items array<string>",
    )
    ts: dict = {}
    loc = G.cooccurrence_triangles(
        s, items="items", min_support=3, tier_stats=ts
    ).collect()[0]
    assert ts["local"] is True
    with one_task_off():
        dist = G.cooccurrence_triangles(s, items="items", min_support=3).collect()[0]
    assert loc.asDict() == dist.asDict()
    # {a,b,c} and {b,c,d} each co-occur 3×: edges ab ac bc bd cd + the
    # two closed triangles abc, bcd
    assert (loc["n_edges"], loc["n_triangles"]) == (5, 2)

    # items past 2^53 (exact int64 ingest) and non-ASCII string items
    big = spark.createDataFrame(
        [([2**53 + 1, 2**53 + 2, 2**53 + 3],)] * 2
        + [([2**53 + 2, 2**53 + 3, 2**53 + 4, None],)] * 2,
        "items array<bigint>",
    )
    uni = spark.createDataFrame(
        [(["é", "z", "Z"],)] * 2 + [(["a", "é", "Z", "zz"],)] * 2,
        "items array<string>",
    )
    for df in (big, uni):
        ts: dict = {}
        loc = G.cooccurrence_triangles(
            df, items="items", min_support=2, tier_stats=ts
        ).collect()[0]
        with one_task_off():
            dist = G.cooccurrence_triangles(
                df, items="items", min_support=2
            ).collect()[0]
        assert ts["local"] is True
        assert loc.asDict() == dist.asDict()


def test_guard_stats_total_on_every_path(spark):
    """r11 ADVICE: guard_stats must be pre-seeded total — empty edges,
    explicit max_right_degree, and hub_guard='off' previously left the
    dict empty and the documented `assert tripped is False` KeyError'd."""
    from ergo_uexplorer_spark.operators.graph import common_neighbor_links

    empty = spark.createDataFrame([], "l long, r long")
    gs: dict = {}
    common_neighbor_links(empty, "l", "r", guard_stats=gs).collect()
    assert gs["tripped"] is False and gs["dropped_wedges"] == 0

    edges = spark.createDataFrame(
        [(i, i % 5) for i in range(50)], "l long, r long"
    )
    gs_cap: dict = {}
    common_neighbor_links(
        edges, "l", "r", max_right_degree=3, guard_stats=gs_cap
    ).collect()
    assert gs_cap["tripped"] is False and gs_cap["cap"] == 3

    gs_off: dict = {}
    common_neighbor_links(
        edges, "l", "r", hub_guard="off", guard_stats=gs_off
    ).collect()
    assert gs_off["tripped"] is False


def test_k_hop_local_tier_emits_seeds_without_kernel(spark):
    """r11 ADVICE: hop-0 rows come from a driver-side seed frame — an
    edge frame whose kernel never runs (empty input) must still return
    every seed at hops=0, duplicates and nulls included."""
    empty = spark.createDataFrame([], "src string, dst string")
    # the gate admits no empty input, so the kernel is called directly
    out = G._k_hop_local_arrow(empty, ["a", "b", "a", None], 3).collect()
    got = sorted(
        ((r["id"], r["hops"]) for r in out),
        key=lambda t: (t[0] is None, t[0]),
    )
    assert got == [("a", 0), ("a", 0), ("b", 0), (None, 0)]


def test_money_overflow_lane_spark_matches_duckdb(spark):
    """r11 ADVICE: a FINITE raw value whose scaled product overflows
    (1e307×100 → +Inf) or exceeds int64 (1e17×100 > 2^63) must be
    labelled 'overflow' by money_reason — computed from the SAME
    scaled expression on both engines — so the quarantine twins never
    desynchronize at the cast."""
    import duckdb

    from ergo_uexplorer_spark.functions.money import (
        accepted_cents,
        money_reason,
        money_reason_sql,
    )

    vals = [
        (1, 1.0),
        (2, None),
        (3, float("nan")),
        (4, float("inf")),
        (5, 1e307),        # finite; ×100 → +Inf           → overflow
        (6, 1e17),         # finite; ×100 = 1e19 > 2^63    → overflow
        (7, -1e307),
        (8, 9.2e16),       # ×100 = 9.2e18 < 2^63          → accepted
        (9, -1.5),
    ]
    df = spark.createDataFrame(vals, "k long, x double")
    got = {
        r["k"]: (r["reason"], r["cents"])
        for r in df.select(
            "k",
            money_reason(
                F.col("x"), scaled=(F.col("x") * 100,)
            ).alias("reason"),
            accepted_cents(F.col("x")).alias("cents"),
        ).collect()
    }
    assert got[1] == (None, 100)  # plain accepted
    assert got[2] == (None, None)  # NULL input stays accepted (null-skip)
    assert got[3][0] == "nan"
    assert got[4][0] == "inf"
    assert got[5][0] == "overflow"
    assert got[6][0] == "overflow"
    assert got[7][0] == "overflow"
    assert got[8] == (None, 9_200_000_000_000_000_000)
    assert got[9] == (None, -150)
    # the guarded cast is total: no accepted row lost its cents
    for k, (reason, cents) in got.items():
        if reason is None and got[k][1] is None:
            assert k == 2  # only the NULL input

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({k}, {('NULL' if x is None else repr(x))!s}::DOUBLE)".replace(
                "nan::", "'nan'::"
            ).replace("inf::", "'inf'::")
            for k, x in vals
        )
        + ") v(k, x)"
    )
    sql_reason = money_reason_sql("x", scaled=("x * 100",))
    oracle = {
        k: r
        for k, r in con.execute(
            f"SELECT k, {sql_reason} FROM t"
        ).fetchall()
    }
    for k, (reason, _) in got.items():
        assert oracle[k] == reason, (k, oracle[k], reason)


def test_dirty_menu_growth_rows_flow(spark, tmp_path):
    """The r12 dirty rows must actually land in the corrupted twin:
    the finite-overflow lineitem row, the pre-epoch orders/events
    rows, and the hostile-Unicode 10k-char document row."""
    from .dirty import make_dirty_sf_dir

    out = make_dirty_sf_dir(
        spark, "/root/testdata/sf0.001", str(tmp_path / "dirty")
    )
    li = spark.read.parquet(f"{out}/lineitem.parquet")
    row = li.filter(F.col("l_orderkey") == -4).collect()[0]
    assert row["l_extendedprice"] == 1e307
    orders = spark.read.parquet(f"{out}/orders.parquet")
    assert (
        orders.filter(
            F.col("o_orderdate") < F.lit("1970-01-01").cast("timestamp")
        ).count()
        == 1
    )
    docs = spark.read.parquet(f"{out}/documents.parquet")
    evil = docs.filter(F.col("doc_id") == -4).collect()[0]["text"]
    assert len(evil) > 10_000 and "﻿" in evil and "￿" in evil


def test_token_rollup_stream_equals_batch(spark, tmp_path):
    """r11 VERDICT #3: the maintained top-K token rollup (q15b's 100 TB
    serving answer) streamed over file-batches must equal
    `top_tokens_by_box_count` over the batch pipeline's full assets
    table — including through compaction + pruning of the delta
    chain."""
    from ergo_uexplorer_spark.fixtures.chaingen import (
        ChainGen,
        write_jsonl_gz,
    )
    from ergo_uexplorer_spark.operators.stats import top_tokens_by_box_count
    from ergo_uexplorer_spark.pipeline import ingest_blocks
    from ergo_uexplorer_spark.streaming.incremental import incremental_sync
    from ergo_uexplorer_spark.streaming.token_rollup import TokenStatsRollup

    gen = ChainGen(seed=33)
    gen.generate(100)
    blocks_dir = tmp_path / "blocks_in"
    blocks_dir.mkdir()
    for i in range(4):
        write_jsonl_gz(
            gen.blocks[i * 25 : (i + 1) * 25],
            str(blocks_dir / f"part{i}.jsonl.gz"),
        )
    rollup = TokenStatsRollup(
        spark, str(tmp_path / "state"), compact_every=2, keep_versions=2
    )
    q = incremental_sync(
        spark,
        str(blocks_dir),
        str(tmp_path / "state"),
        str(tmp_path / "ckpt"),
        available_now=True,
        token_rollup=rollup,
    )
    q.awaitTermination(300)

    full = str(tmp_path / "full.jsonl.gz")
    write_jsonl_gz(gen.blocks, full)
    batch = ingest_blocks(spark, full)
    expect = [
        tuple(r)
        for r in top_tokens_by_box_count(batch["assets"], k=50).collect()
    ]
    got = [tuple(r) for r in rollup.top(50).collect()]
    assert got == expect


def test_token_rollup_exactly_once_and_rollback(spark, tmp_path):
    from ergo_uexplorer_spark.fixtures.chaingen import ChainGen
    from ergo_uexplorer_spark.operators import normalize as N
    from ergo_uexplorer_spark.sources.blocks import BLOCK_SCHEMA
    from ergo_uexplorer_spark.fixtures.chaingen import write_jsonl_gz
    from ergo_uexplorer_spark.streaming.token_rollup import (
        TokenStatsRollup,
        token_partials,
    )

    gen = ChainGen(seed=34)
    gen.generate(30)
    p = str(tmp_path / "b.jsonl.gz")
    write_jsonl_gz(gen.blocks, p)
    raw = spark.read.schema(BLOCK_SCHEMA).json(p)
    assets = N.assets(N.outputs(raw))
    low = token_partials(assets.filter(F.col("height") <= 15))
    high = token_partials(assets.filter(F.col("height") > 15))
    # -- exactly-once + fork rollback (no compaction interference)
    rollup = TokenStatsRollup(spark, str(tmp_path / "state"))
    v1 = rollup.commit(low, batch_id=0)
    v2 = rollup.commit(high, batch_id=1)
    assert (v1, v2) == (1, 2)
    # redelivery of batch 1 returns the published version, no new dir
    assert rollup.commit(high, batch_id=1) == 2
    assert rollup.current_version() == 2
    top_before = [tuple(r) for r in rollup.top(20).collect()]
    # fork recovery: rolling back to v1 must serve exactly the ≤15 slice
    rollup.rollback_to(1)
    only_first = TokenStatsRollup(spark, str(tmp_path / "state2"))
    only_first.commit(low)
    assert [tuple(r) for r in rollup.top(20).collect()] == [
        tuple(r) for r in only_first.top(20).collect()
    ]
    assert [tuple(r) for r in rollup.top(20).collect()] != top_before

    # -- compaction + pruning: base written on cadence, old versions
    # pruned, compacted read equals the one-shot recomputation
    compacted = TokenStatsRollup(
        spark, str(tmp_path / "state3"), compact_every=2, keep_versions=1
    )
    compacted.commit(low)
    compacted.commit(high)
    assert compacted._has_base(2)
    assert compacted.versions() == [2]
    full_rollup = TokenStatsRollup(spark, str(tmp_path / "state_full"))
    full_rollup.commit(token_partials(assets))
    assert sorted(
        tuple(r) for r in compacted.read().collect()
    ) == sorted(tuple(r) for r in full_rollup.read().collect())


R12_NEW_ENTRIES = [
    "zwl_rollup_summary_quarantine",
    "zwm_regional_volume_quarantine",
]


@pytest.fixture(scope="module")
def dirty_dir_r12(spark, tmp_path_factory):
    from .dirty import make_dirty_sf_dir

    out = tmp_path_factory.mktemp("dirty_sf_r12")
    return make_dirty_sf_dir(spark, "/root/testdata/sf0.001", str(out))


@pytest.mark.parametrize("name", R12_NEW_ENTRIES)
def test_r12_entries_survive_dirty_inputs(spark, dirty_dir_r12, name):
    """Dirty-at-birth gate for the r12 quarantine twins (zwl = b02
    ROLLUP twin, zwm = z13 snowflake twin): entry and oracle must
    agree on the corrupted tables, quarantining the NaN/Inf/overflow
    money rows the strict siblings refuse."""
    from ergo_uexplorer_spark.suite.base import REGISTRY

    from .oracle import assert_matches_oracle

    q = REGISTRY[name]
    assert_matches_oracle(q.fn(spark, dirty_dir_r12), q.sql, dirty_dir_r12, name)


def test_r12_quarantine_twins_match_strict_on_clean_data(spark):
    """On CLEAN tables zwl/zwm must reproduce zz_b02/zz_z13 exactly
    with zero quarantined rows — keep-going semantics never change a
    clean-source answer."""
    from ergo_uexplorer_spark.suite.base import REGISTRY

    sf = "/root/testdata/sf0.001"
    strict_b02 = {
        (r["l_returnflag"], r["l_linestatus"]): (r["sum_qty"], r["n"])
        for r in REGISTRY["zz_b02_rollup_summary"].fn(spark, sf).collect()
    }
    twin_b02 = REGISTRY["zwl_rollup_summary_quarantine"].fn(spark, sf).collect()
    assert all(
        r["n_nan"] == 0 and r["n_inf"] == 0 and r["n_ovf"] == 0
        for r in twin_b02
    )
    assert {
        (r["l_returnflag"], r["l_linestatus"]): (r["sum_qty"], r["n"])
        for r in twin_b02
    } == strict_b02

    strict_z13 = {
        r["n_name"]: (r["revenue_cents"], r["n_items"])
        for r in REGISTRY["zz_z13_regional_volume"].fn(spark, sf).collect()
    }
    twin_z13 = (
        REGISTRY["zwm_regional_volume_quarantine"].fn(spark, sf).collect()
    )
    assert all(
        r["n_nan"] == 0 and r["n_inf"] == 0 and r["n_ovf"] == 0
        for r in twin_z13
    )
    assert {
        r["n_name"]: (r["revenue_cents"], r["n_items"]) for r in twin_z13
    } == strict_z13


def test_k_hop_seed_frame_equals_list(spark, one_task_off):
    """r11 VERDICT #8: the seed-FRAME overload must produce exactly the
    list form's BFS labels (deduplicated — a frame is a set of seeds)
    without shipping ids through the driver; mismatched seed column
    types are cast to the edge id type."""
    random.seed(5)
    edges = [
        (random.randint(0, 300), random.randint(0, 300))
        for _ in range(2000)
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = [1, 2, 3, 4, 5]
    with one_task_off():
        via_list = {
            (r["id"], r["hops"])
            for r in G.k_hop_neighbors(df, seeds, 3).collect()
        }
    seed_df = spark.createDataFrame(
        [(s,) for s in seeds + [3, 3]], "seed long"  # dupes dedup away
    )
    via_frame = {
        (r["id"], r["hops"])
        for r in G.k_hop_neighbors(df, seed_df, 3).collect()
    }
    assert via_frame == via_list

    # string seed column against long edges: cast applies
    seed_str = spark.createDataFrame([(str(s),) for s in seeds], "s string")
    via_cast = {
        (r["id"], r["hops"])
        for r in G.k_hop_neighbors(df, seed_str, 3).collect()
    }
    assert via_cast == via_list


def test_bpe_auto_cadence_equals_fixed(spark):
    """checkpoint_every='auto' (r12 cadence sweep's adaptive option)
    must be a pure execution-schedule change: merges identical to the
    fixed-cadence and sequential results."""
    from ergo_uexplorer_spark.operators.bpe import train_bpe_merges

    docs = spark.createDataFrame(
        [("low lower lowest newer newest wider widest",)] * 3
        + [("new wide low slow slower slowest",)] * 2,
        "text string",
    )
    fixed = [
        tuple(r)
        for r in train_bpe_merges(
            docs, n_merges=12, batch=4, checkpoint_every=4
        ).collect()
    ]
    auto = [
        tuple(r)
        for r in train_bpe_merges(
            docs, n_merges=12, batch=4, checkpoint_every="auto"
        ).collect()
    ]
    seq = [
        tuple(r)
        for r in train_bpe_merges(
            docs, n_merges=12, batch=1, checkpoint_every="auto"
        ).collect()
    ]
    assert auto == fixed == seq
