"""Lakehouse storage layout (SURVEY §4: replaces the reference's B-tree
indexes + MVStore page cache with partition pruning and file-level
clustering).

Layout rules (SCALE.md):
  * fact tables (`boxes`, `inputs`, `transactions`, `assets`) partition by
    `height_bucket` (height div 65536) — bounded partition count over any
    chain length, natural append pattern (new blocks touch one bucket),
    and range queries prune directories;
  * NEVER partition by address/tree hash — hot addresses (supernode
    problem) would produce pathological partitions; instead rows are
    sorted within files by `ergo_tree_hash` (`sortWithinPartitions`) so
    parquet row-group min/max statistics prune address lookups — the
    poor man's Z-order, swap for OPTIMIZE ZORDER on Delta;
  * dimensions (`ergo_trees`, `blocks`, `tokens`) write unpartitioned
    single-digit-file tables (they broadcast anyway).

`overwrite_buckets` gives idempotent incremental appends: re-writing a
height bucket replaces exactly that bucket (dynamic partition
overwrite), which is the parquet-level analogue of Delta's
`replaceWhere` MERGE used for fork rewrites.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

HEIGHT_BUCKET_SIZE = 65536

# ---------------------------------------------------------------------------
# Sink configuration (S9): the reference ships seven Cassandra entity
# writers (cassandra/entity/CassandraOutputsWriter.scala:16-49 and
# siblings — one per table, each binding a CQL INSERT). On Spark the
# whole family is a DataSource format swap: the same DataFrames route
# through `.write.format(...)`, where the format is either a path-based
# file source (parquet/orc/... — partitioned + clustered below) or a
# table-based connector such as the spark-cassandra-connector
# ("org.apache.spark.sql.cassandra", options keyspace/table). The
# connector jar is NOT bundled here; selecting it without the jar fails
# fast at DataSource resolution (covered by a skip-aware test).
# ---------------------------------------------------------------------------
CASSANDRA_FORMAT = "org.apache.spark.sql.cassandra"
PATH_FORMATS = frozenset({"parquet", "orc", "json", "csv"})


@dataclass(frozen=True)
class SinkConfig:
    """Where gold tables land: a file format written under a root path,
    or a table-based connector keyed by table name."""

    format: str = "parquet"
    options: dict[str, str] = field(default_factory=dict)
    mode: str = "overwrite"

    @property
    def path_based(self) -> bool:
        return self.format in PATH_FORMATS


def sink_from_env() -> SinkConfig:
    """Sink selection via environment (the deployment flag):
    UEX_SINK_FORMAT (default parquet) and UEX_SINK_OPTIONS (JSON dict,
    e.g. '{"keyspace": "uexplorer", "spark.cassandra.connection.host":
    "cas1"}' for the Cassandra path)."""
    fmt = os.environ.get("UEX_SINK_FORMAT", "parquet")
    opts = json.loads(os.environ.get("UEX_SINK_OPTIONS", "{}"))
    mode = "append" if fmt == CASSANDRA_FORMAT else "overwrite"
    return SinkConfig(fmt, opts, os.environ.get("UEX_SINK_MODE", mode))


def cassandra_sink(keyspace: str, **options: str) -> SinkConfig:
    """The reference's writer family as one config: per-table CQL binds
    become connector options; Cassandra idempotent upserts replace the
    reference's INSERT-if-absent, so mode is append."""
    return SinkConfig(
        CASSANDRA_FORMAT, {"keyspace": keyspace, **options}, "append"
    )


def write_table_sink(df: DataFrame, name: str, sink: SinkConfig) -> None:
    """Table-based connector write (Cassandra shape): the connector owns
    partitioning/clustering via the table schema, so the height-bucket
    file layout does not apply."""
    (
        df.write.format(sink.format)
        .options(**sink.options)
        .option("table", name)
        .mode(sink.mode)
        .save()
    )

FACT_SORT_KEYS = {
    "boxes": ["ergo_tree_hash", "box_id"],
    "inputs": ["box_id"],
    "transactions": ["tx_id"],
    "assets": ["token_id", "box_id"],
}


def with_height_bucket(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "height_bucket", F.expr(f"height div {HEIGHT_BUCKET_SIZE}")
    )


def write_fact(
    df: DataFrame,
    path: str,
    sort_keys: list[str] | None = None,
    sink: SinkConfig | None = None,
) -> None:
    """Partition by height bucket, cluster rows by the lookup key."""
    sink = sink or SinkConfig()
    out = with_height_bucket(df)
    if sort_keys:
        out = out.repartition("height_bucket").sortWithinPartitions(*sort_keys)
    (
        out.write.format(sink.format)
        .options(**sink.options)
        .mode(sink.mode)
        .partitionBy("height_bucket")
        .save(path)
    )


def overwrite_buckets(df: DataFrame, path: str) -> None:
    """Dynamic partition overwrite: replaces only the height buckets
    present in `df` (incremental append / fork rewrite path)."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            with_height_bucket(df)
            .write.mode("overwrite")
            .partitionBy("height_bucket")
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def write_bucketed(
    df: DataFrame,
    table: str,
    buckets: int = 64,
    keys: tuple[str, ...] = ("box_id",),
    sink: SinkConfig | None = None,
) -> None:
    """Hash-bucketed managed table (the co-located-join layout): writing
    BOTH sides of a hot equi-join — boxes and inputs on `box_id` for the
    UTXO spend anti-join, the reference's MVStore point-lookup loop —
    with the same bucket spec lets Spark plan the join with NO exchange
    on either side: each task reads matching bucket files directly
    (bucket pruning also serves point lookups). This is the persistent
    form of a co-partitioned shuffle, paid once at write time; at 100 TB
    it removes the largest shuffle in the spend-application path.
    Requires a table catalog (`saveAsTable`); file `path` sinks cannot
    carry bucket metadata."""
    sink = sink or SinkConfig()
    (
        df.repartition(buckets, *[F.col(k) for k in keys])
        .write.format(sink.format if sink.path_based else "parquet")
        .mode("overwrite")
        .bucketBy(buckets, *keys)
        .sortBy(*keys)
        .saveAsTable(table)
    )


def write_dimension(
    df: DataFrame, path: str, files: int = 1, sink: SinkConfig | None = None
) -> None:
    sink = sink or SinkConfig()
    (
        df.coalesce(files)
        .write.format(sink.format)
        .options(**sink.options)
        .mode(sink.mode)
        .save(path)
    )


def write_lakehouse(
    tables: dict[str, DataFrame], root: str, sink: SinkConfig | None = None
) -> dict[str, str]:
    """Persist the gold tables with the scale layout; returns paths (or
    table names for a table-based sink such as Cassandra — the S9 swap:
    same tables, same call, different `SinkConfig`)."""
    sink = sink or sink_from_env()
    facts = ("boxes_main", "inputs_main", "transactions_main", "assets")
    dims = ("blocks", "ergo_trees", "tokens", "address_stats")
    if not sink.path_based:
        out: dict[str, str] = {}
        for name in facts + dims + ("utxo",):
            base = name.removesuffix("_main")
            write_table_sink(tables[name], base, sink)
            out[base] = base
        return out
    paths: dict[str, str] = {}
    for name in facts:
        base = name.removesuffix("_main")
        p = f"{root}/{base}"
        write_fact(tables[name], p, FACT_SORT_KEYS.get(base), sink=sink)
        paths[base] = p
    for name in dims:
        p = f"{root}/{name}"
        write_dimension(tables[name], p, sink=sink)
        paths[name] = p
    p = f"{root}/utxo"
    write_fact(tables["utxo"], p, FACT_SORT_KEYS["boxes"], sink=sink)
    paths["utxo"] = p
    return paths


def read_lakehouse(
    spark: SparkSession, root: str, format: str = "parquet"
) -> dict[str, DataFrame]:
    names = (
        "boxes",
        "inputs",
        "transactions",
        "assets",
        "blocks",
        "ergo_trees",
        "tokens",
        "address_stats",
        "utxo",
    )
    out = {n: spark.read.format(format).load(f"{root}/{n}") for n in names}
    # query-surface aliases (the serving tables are the main-chain ones)
    out["boxes_main"] = out["boxes"]
    out["inputs_main"] = out["inputs"]
    out["transactions_main"] = out["transactions"]
    return out
