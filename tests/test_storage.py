"""Lakehouse layout: height-bucket partition pruning, in-file clustering,
dynamic bucket overwrite, round-trip through the query surface."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ergo_uexplorer_spark import api, storage
from ergo_uexplorer_spark.fixtures.chaingen import ChainGen, write_jsonl_gz
from ergo_uexplorer_spark.operators import boxes as B
from ergo_uexplorer_spark.pipeline import ingest_blocks
from ergo_uexplorer_spark.plans.explain import formatted_plan


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("lake")
    gen = ChainGen(seed=13)
    gen.generate(120)
    tables = ingest_blocks(
        spark, write_jsonl_gz(gen.blocks, str(d / "c.jsonl.gz"))
    )
    root = str(d / "gold")
    paths = storage.write_lakehouse(tables, root)
    return spark, root, paths, tables


def test_partition_layout(lake):
    spark, root, paths, _ = lake
    dirs = os.listdir(paths["boxes"])
    assert any(x.startswith("height_bucket=") for x in dirs)


def test_roundtrip_counts(lake):
    spark, root, paths, tables = lake
    rt = storage.read_lakehouse(spark, root)
    assert rt["boxes"].count() == tables["boxes_main"].count()
    assert rt["utxo"].count() == tables["utxo"].count()
    assert rt["blocks"].count() == 120


def test_query_surface_over_lakehouse(lake):
    spark, root, paths, tables = lake
    rt = storage.read_lakehouse(spark, root)
    some_box = tables["utxo"].first()["box_id"]
    got = B.select_boxes(rt, "unspent", "box_id", [some_box])
    assert got.count() == 1


def test_routes_over_lakehouse_equal_in_memory(lake):
    """Every served route family answers from the tables
    `read_lakehouse` returns exactly as from the ingest's in-memory
    tables: the on-disk boxes carry `spent_height`, and `assets` is
    written and read back."""
    spark, root, paths, tables = lake
    rt = storage.read_lakehouse(spark, root)
    assert "spent_height" in rt["boxes"].columns
    spent = (
        tables["boxes_main"]
        .filter(F.col("spent_height").isNotNull())
        .select("box_id", "address")
        .first()
    )
    live = tables["utxo"].first()["box_id"]
    token = tables["assets"].first()["token_id"]
    block = tables["blocks"].first()["block_id"]
    cases = [
        ("boxes/unspent/by-id", [live]),
        ("boxes/unspent/by-id", [spent["box_id"]]),
        ("boxes/spent/by-id", [spent["box_id"]]),
        ("boxes/unspent/by-address", [spent["address"]]),
        ("boxes/spent/by-address", [spent["address"]]),
        ("box-ids/any/by-token-id", [token]),
        ("blocks/latest", None),
        ("blocks/by-id", [block]),
        ("info", None),
        ("stats/top-addresses/by-box-count", None),
        ("stats/top-addresses/by-value", None),
        ("stats/top-tokens/by-box-count", None),
    ]
    for route, keys in cases:
        mem, disk = (
            sorted(map(repr, api.endpoint(t, route, keys=keys).collect()))
            for t in (tables, rt)
        )
        assert mem == disk, route
        assert mem or keys == [spent["box_id"]], route


def test_bucket_pruning_in_plan(lake):
    spark, root, paths, _ = lake
    df = spark.read.parquet(paths["boxes"]).filter(F.col("height_bucket") == 0)
    plan = formatted_plan(df)
    assert "PartitionFilters" in plan and "height_bucket" in plan


def test_overwrite_buckets_idempotent(spark, tmp_path):
    gen = ChainGen(seed=14)
    gen.generate(40)
    tables = ingest_blocks(
        spark, write_jsonl_gz(gen.blocks, str(tmp_path / "c.jsonl.gz"))
    )
    p = str(tmp_path / "boxes")
    storage.write_fact(tables["boxes_main"], p, ["box_id"])
    n = spark.read.parquet(p).count()
    # re-apply the same data as an incremental overwrite: same count
    storage.overwrite_buckets(tables["boxes_main"], p)
    assert spark.read.parquet(p).count() == n


def test_sink_format_swap_orc(lake, tmp_path_factory):
    """S9 writer family as a format swap: the identical write_lakehouse
    call lands the gold tables in another DataSource format, keeping the
    height-bucket partition layout."""
    spark, _, _, tables = lake
    root = str(tmp_path_factory.mktemp("lake_orc") / "gold")
    paths = storage.write_lakehouse(
        tables, root, sink=storage.SinkConfig(format="orc")
    )
    assert any(
        x.startswith("height_bucket=") for x in os.listdir(paths["boxes"])
    )
    rt = storage.read_lakehouse(spark, root, format="orc")
    assert rt["boxes"].count() == tables["boxes_main"].count()
    assert rt["blocks"].count() == 120


def test_sink_from_env(monkeypatch):
    monkeypatch.setenv("UEX_SINK_FORMAT", storage.CASSANDRA_FORMAT)
    monkeypatch.setenv("UEX_SINK_OPTIONS", '{"keyspace": "uexplorer"}')
    sink = storage.sink_from_env()
    assert not sink.path_based
    assert sink.mode == "append"
    assert sink.options["keyspace"] == "uexplorer"


def test_cassandra_sink_resolution(lake):
    """The Cassandra path reaches Spark's DataSource resolution with the
    connector format + per-table options (the S9 contract). The
    connector jar is not bundled in this environment, so resolution must
    fail fast with the data-source-not-found error; with the jar on the
    classpath the same call would bind keyspace/table and write."""
    spark, _, _, tables = lake
    sink = storage.cassandra_sink("uexplorer")
    try:
        storage.write_table_sink(tables["blocks"], "blocks", sink)
    except Exception as exc:  # noqa: BLE001 — py4j error types vary
        msg = str(exc)
        assert "cassandra" in msg.lower() or "DATA_SOURCE_NOT_FOUND" in msg
    else:
        pytest.skip("spark-cassandra-connector present; write succeeded")


def test_bucketed_join_has_no_exchange(spark, lake, tmp_path_factory):
    """write_bucketed: boxes and inputs bucketed by box_id with the same
    spec join WITHOUT a shuffle on either side — the persistent
    co-partitioning that removes the spend-join exchange at scale."""
    from ergo_uexplorer_spark.storage import write_bucketed

    wh = str(tmp_path_factory.mktemp("bucketed_wh"))
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bktest LOCATION '{wh}'")
    try:
        _, _, _, tables = lake
        write_bucketed(
            tables["boxes_main"].select("box_id", "value", "height"),
            "bktest.b_boxes", buckets=8,
        )
        write_bucketed(
            tables["inputs_main"].select("box_id", "tx_id"),
            "bktest.b_inputs", buckets=8,
        )
        # At test scale Spark would broadcast the small side; force the
        # sort-merge path the layout targets (at 100 TB neither side of
        # the spend join is broadcastable).
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("bktest.b_boxes").join(
                spark.table("bktest.b_inputs"), "box_id"
            )
            n = joined.count()
            assert n > 0
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert "Bucketed: true" in plan, plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        # bucket pruning serves point lookups too
        one = spark.table("bktest.b_boxes").limit(1).collect()[0]["box_id"]
        assert (
            spark.table("bktest.b_boxes")
            .filter(F.col("box_id") == one)
            .count()
            == 1
        )
    finally:
        spark.sql("DROP DATABASE IF EXISTS bktest CASCADE")


def test_mock_cassandra_sink_end_to_end(lake, tmp_path_factory):
    """S9 integration without the connector jar: the SAME
    `write_lakehouse` call routes every gold table through a registered
    table-based DataSource (PySpark Python Data Source V2) that enforces
    the connector's keyspace/table option contract and writes executor-
    side — proving the plumbing the real connector would ride."""
    import json

    from ergo_uexplorer_spark.sinks import register_mock_cassandra

    spark, _, _, tables = lake
    out_dir = str(tmp_path_factory.mktemp("mock_cas"))
    fmt = register_mock_cassandra(spark)
    sink = storage.SinkConfig(
        format=fmt,
        options={"keyspace": "uexplorer", "dir": out_dir},
        mode="append",
    )
    names = storage.write_lakehouse(tables, root="", sink=sink)
    assert set(names) == {
        "boxes", "inputs", "transactions", "assets", "blocks",
        "ergo_trees", "tokens", "address_stats", "utxo",
    }
    for table in names:
        tdir = os.path.join(out_dir, "uexplorer", table)
        assert os.path.exists(os.path.join(tdir, "_SUCCESS")), table
        rows = 0
        for fn in os.listdir(tdir):
            if fn.endswith(".jsonl"):
                with open(os.path.join(tdir, fn)) as f:
                    rows += sum(1 for _ in f)
        expected = tables[
            table + "_main" if table in ("boxes", "inputs", "transactions")
            else table
        ].count()
        assert rows == expected, table
    # a blocks row round-trips with its column names intact
    bdir = os.path.join(out_dir, "uexplorer", "blocks")
    fn = next(x for x in os.listdir(bdir) if x.endswith(".jsonl"))
    with open(os.path.join(bdir, fn)) as f:
        rec = json.loads(f.readline())
    assert "block_id" in rec and "height" in rec


def test_mock_cassandra_option_contract(spark, lake):
    """Missing keyspace/table fails at the writer, mirroring the real
    connector's mandatory-option assertions."""
    from ergo_uexplorer_spark.sinks import register_mock_cassandra

    _, _, _, tables = lake
    fmt = register_mock_cassandra(spark)
    with pytest.raises(Exception, match="keyspace"):
        (
            tables["blocks"].limit(1).write.format(fmt)
            .option("table", "blocks").mode("append").save()
        )
