"""Round-10 operators: the auto hub guard (zya8's at-scale default),
the wedge-histogram sizing probe (zwh), and the dirty-at-birth policy —
every registry entry ADDED this round runs against its DuckDB oracle on
a corrupted twin of sf0.001 (see tests/dirty.py for why)."""

import pytest
from pyspark.sql import functions as F

from ergo_uexplorer_spark.operators import graph as G
from ergo_uexplorer_spark.operators.graph import (
    _auto_hub_cap,
    common_neighbor_links,
    right_degree_histogram,
)
from ergo_uexplorer_spark.suite.base import REGISTRY

from .dirty import make_dirty_sf_dir
from .oracle import assert_matches_oracle

# every entry registered in round 10 — the dirty-at-birth gate below
# runs each against its oracle on the corrupted tables
R10_NEW_ENTRIES = [
    "zwh_wedge_histogram",
]


def _links(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture
def bipartite(spark):
    # skew-free: lefts 1..6 over rights 1..4, every right degree 3
    rows = [
        (left, r)
        for r in range(1, 5)
        for left in [(r % 6) + 1, ((r + 1) % 6) + 1, ((r + 2) % 6) + 1]
    ]
    return spark.createDataFrame(rows, "l long, r long")


def test_hub_guard_noop_on_skew_free(bipartite):
    """The default auto guard drops only degree OUTLIERS — on a uniform
    degree distribution it must not trip, so auto == off == exact."""
    auto = _links(common_neighbor_links(bipartite, "l", "r", min_common=1))
    exact = _links(
        common_neighbor_links(bipartite, "l", "r", min_common=1,
                              hub_guard="off")
    )
    assert auto == exact and auto


def test_hub_guard_trips_on_supernode(spark, monkeypatch):
    """One right shared by hundreds of lefts (the exchange-hot-wallet
    shape) is dropped by auto; the result equals the explicit manual
    cap, and the off escape hatch keeps the exact (hub-inclusive)
    answer."""
    normal = [(left, r) for r in range(1, 21) for left in (r, r + 1, r + 2)]
    hub = [(left, 999) for left in range(1, 201)]
    edges = spark.createDataFrame(normal + hub, "l long, r long")
    monkeypatch.setattr(G, "HUB_FLOOR", 16)
    auto = _links(common_neighbor_links(edges, "l", "r", min_common=1))
    manual = _links(
        common_neighbor_links(edges, "l", "r", min_common=1, max_right_degree=48)
    )
    exact = _links(
        common_neighbor_links(edges, "l", "r", min_common=1, hub_guard="off")
    )
    # median right degree is 3 → cap = max(16, 48) = 48: the hub
    # (degree 200) is dropped, every normal right kept
    assert auto == manual
    assert auto != exact
    # exact includes every hub-mediated pair: 200 lefts choose 2
    assert len(exact) >= 200 * 199 // 2


def test_hub_guard_degrees_consistent_with_guarded_graph(spark, monkeypatch):
    """Under the guard, deg_a/deg_b count the GUARDED graph so the
    caller's Jaccard (common / (deg_a + deg_b − common)) stays within
    [0, 1] — mixing exact degrees with guarded commons would not."""
    normal = [(1, r) for r in range(1, 4)] + [(2, r) for r in range(1, 4)]
    hub = [(left, 999) for left in range(1, 100)]
    edges = spark.createDataFrame(normal + hub, "l long, r long")
    monkeypatch.setattr(G, "HUB_FLOOR", 8)
    out = common_neighbor_links(edges, "l", "r", min_common=1).collect()
    row = {(r["node_a"], r["node_b"]): r for r in out}[(1, 2)]
    assert (row["common"], row["deg_a"], row["deg_b"]) == (3, 3, 3)


def test_auto_hub_cap_median_by_right_count():
    # 10 rights at degree 2, one hot right at degree 1000: the median
    # is 2 (by right count, not by edge mass) → cap = max(64, 32) = 64
    hist = [{"rd": 2, "n_rights": 10}, {"rd": 1000, "n_rights": 1}]
    assert _auto_hub_cap(hist, 64, 16) == 64
    # higher uniform degrees raise the cap multiplicatively
    hist = [{"rd": 50, "n_rights": 10}, {"rd": 10000, "n_rights": 1}]
    assert _auto_hub_cap(hist, 64, 16) == 800


def test_right_degree_histogram(spark):
    edges = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (1, 20), (2, 20), (1, 30), (1, 30)],
        "l long, r long",
    )
    got = {
        r["rd"]: (r["n_rights"], r["wedges"])
        for r in right_degree_histogram(edges, "l", "r").collect()
    }
    # r=30 dedups to degree 1; r=20 degree 2; r=10 degree 3
    assert got == {1: (1, 1), 2: (1, 4), 3: (1, 9)}


@pytest.fixture(scope="module")
def dirty_dir(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("dirty_sf")
    return make_dirty_sf_dir(spark, "/root/testdata/sf0.001", str(out))


@pytest.mark.parametrize("name", R10_NEW_ENTRIES)
def test_r10_entries_survive_dirty_inputs(spark, dirty_dir, name):
    """Dirty-at-birth gate: the entry and its oracle must AGREE on the
    corrupted tables (null keys, unicode, ragged vectors, non-finite
    values), not merely avoid crashing — operator-vs-GROUP-BY null
    semantics is the bug class the round-9 sweep caught three times."""
    q = REGISTRY[name]
    df = q.fn(spark, dirty_dir)
    if q.sql is None:
        assert df.count() >= 0
    else:
        assert_matches_oracle(df, q.sql, dirty_dir, name)


def test_zwh_matches_oracle_clean(spark):
    q = REGISTRY["zwh_wedge_histogram"]
    assert_matches_oracle(
        q.fn(spark, "/root/testdata/sf0.01"), q.sql, "/root/testdata/sf0.01",
        "zwh",
    )


def test_zya8_auto_guard_untripped_at_driver_sf(spark):
    """TPC-H part degrees are near-uniform: the auto guard must NOT trip
    at oracle SFs (cap ≫ max degree), so zya8's parity is unaffected by
    the new default."""
    lineitem = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    edges = lineitem.join(
        orders.select("o_orderkey", "o_custkey"),
        lineitem.l_orderkey == orders.o_orderkey,
    )
    hist = right_degree_histogram(edges, "o_custkey", "l_partkey").collect()
    rows = [{"rd": r["rd"], "n_rights": r["n_rights"]} for r in hist]
    cap = _auto_hub_cap(rows, 64, 16)
    assert max(r["rd"] for r in hist) <= cap
