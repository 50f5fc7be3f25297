"""Full-block sources (SURVEY §2.1 S1-S4).

The primary batch source is gzip JSON-lines of `ApiFullBlock` records —
the exact shape of the reference's benchmark/replay source
(BlockReader.blockSourceFromFS, chain/BlockReader.scala:26-40). The
explicit nested StructType (mirroring node/NodeModel.scala:35-83) is
load-bearing at scale: schema inference would scan the corpus twice, and
an explicit schema lets Spark prune unread nested fields.

Live-node ingestion (S1/S2: REST pagination + fetch) is a driver loop
that appends micro-batches of the same schema; see streaming/incremental.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DecimalType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from ..operators.util import local_frame

S = StringType()
I = IntegerType()
L = LongType()


ASSET_SCHEMA = StructType(
    [StructField("tokenId", S), StructField("amount", L)]
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("boxId", S),
        StructField("value", L),
        StructField("creationHeight", I),
        StructField("ergoTree", S),
        StructField("assets", ArrayType(ASSET_SCHEMA)),
        StructField("additionalRegisters", MapType(S, S)),
    ]
)

TX_SCHEMA = StructType(
    [
        StructField("id", S),
        StructField(
            "inputs",
            ArrayType(
                StructType(
                    [
                        StructField("boxId", S),
                        StructField(
                            "spendingProof",
                            StructType(
                                [
                                    StructField("proofBytes", S),
                                    StructField("extension", S),
                                ]
                            ),
                        ),
                    ]
                )
            ),
        ),
        StructField(
            "dataInputs",
            ArrayType(StructType([StructField("boxId", S)])),
        ),
        StructField("outputs", ArrayType(OUTPUT_SCHEMA)),
        StructField("size", I),
    ]
)

HEADER_SCHEMA = StructType(
    [
        StructField("id", S),
        StructField("parentId", S),
        StructField("version", I),
        StructField("height", I),
        StructField("nBits", L),
        StructField("difficulty", DecimalType(38, 0)),
        StructField("timestamp", L),
        StructField("stateRoot", S),
        StructField("adProofsRoot", S),
        StructField("transactionsRoot", S),
        StructField("extensionHash", S),
        StructField("minerPk", S),
        StructField("w", S),
        StructField("n", S),
        StructField("d", S),  # BigInt PoW distance: string (can exceed 38 digits)
    ]
)

BLOCK_SCHEMA = StructType(
    [
        StructField("header", HEADER_SCHEMA),
        StructField("transactions", ArrayType(TX_SCHEMA)),
        StructField(
            "extension",
            StructType(
                [
                    StructField("headerId", S),
                    StructField("digest", S),
                    StructField("fields", S),
                ]
            ),
        ),
        StructField(
            "adProofs",
            StructType(
                [
                    StructField("headerId", S),
                    StructField("proofBytes", S),
                    StructField("digest", S),
                ]
            ),
        ),
        StructField("size", I),
    ]
)


def block_id_pages(fetch_page, from_height: int = 0, page_size: int = 100):
    """S1 (BlockReader.blockIdSource, chain/BlockReader.scala:42-53):
    unfold over the node's paginated id endpoint
    (`/blocks?offset=N&limit=100`) → stream of block-id pages.

    `fetch_page(offset, limit) -> list[str]` is injectable (the REST call
    in production, a fake in tests). Pagination is inherently sequential
    and id-sized, so it runs on the driver — the heavy per-block fetch +
    decode is what fans out across executors (`fetch_blocks`). Stops on
    a short or empty page, exactly like the reference's unfold.
    """
    offset = from_height
    while True:
        ids = list(fetch_page(offset, page_size))
        if not ids:
            return
        yield ids
        if len(ids) < page_size:
            return
        offset += len(ids)


def fetch_blocks(
    spark: SparkSession,
    block_ids: list[str],
    fetch_block,
    num_partitions: int | None = None,
) -> DataFrame:
    """S2 (BlockHttpClient.getBlockForId → ApiFullBlock decode): fetch
    and decode one page of full blocks, **distributed across executors**.

    `fetch_block(block_id) -> str` returns the block's JSON text (the
    node REST body in production; injectable in tests). Ids are tiny and
    parallelize from the driver; each executor fetches its slice inside
    an Arrow-batched `mapInPandas`, and the JSON decode itself stays
    JVM-side via `from_json(BLOCK_SCHEMA)` — Python only shuttles the
    raw response bytes. At cluster scale this is the network-bound fan-out
    the reference does with ZIO parallelism (fetcher fibers), expressed
    as a Spark stage so back-pressure/retry land on the task scheduler.
    """
    n = num_partitions or min(len(block_ids), 32) or 1
    ids_df = local_frame(
        spark, [(b,) for b in block_ids], "block_id string"
    ).repartition(n)

    def _fetch(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {"json": [fetch_block(b) for b in pdf["block_id"]]}
            )

    raw = ids_df.mapInPandas(_fetch, "json string")
    return raw.select(
        F.from_json("json", BLOCK_SCHEMA).alias("b")
    ).select("b.*")


def paginated_block_batches(
    spark: SparkSession,
    fetch_page,
    fetch_block,
    from_height: int = 0,
    page_size: int = 100,
):
    """S1+S2 composed: the driver loop the reference runs as a ZStream —
    one DataFrame micro-batch per id page, ready for
    `incremental.apply_block_batch_forkaware` (per-page UTXO delta
    commit)."""
    for ids in block_id_pages(fetch_page, from_height, page_size):
        yield fetch_blocks(spark, ids, fetch_block)


def _prune_block_schema() -> StructType:
    """BLOCK_SCHEMA minus everything the normalize pipeline never reads:
    the adProofs/extension subtrees and the PoW-solution header fields
    (nBits, adProofsRoot, transactionsRoot, extensionHash, w, n, d).
    Spark's Jackson parser SKIPS subtrees absent from the schema instead
    of materializing them, so the pruned schema cuts the linear JSON
    decode cost — the dominant term of chain ingest (r4 plan audit)."""
    keep_header = {
        "id",
        "parentId",
        "version",
        "height",
        "difficulty",
        "timestamp",
        "stateRoot",
        "minerPk",
    }
    header = StructType(
        [f for f in HEADER_SCHEMA.fields if f.name in keep_header]
    )
    return StructType(
        [
            StructField("header", header),
            StructField("transactions", ArrayType(TX_SCHEMA)),
            StructField("size", I),
        ]
    )


BLOCK_SCHEMA_PRUNED = _prune_block_schema()


def read_blocks(
    spark: SparkSession,
    path: str | list[str],
    from_height: int | None = None,
    validate: bool = True,
    prune: bool = True,
) -> DataFrame:
    """S3 file source: JSON-lines (optionally .gz) of full blocks. The
    `from_height` resume filter mirrors `dropUntil(height)` and is pushed
    into the scan.

    `validate` drops structurally-invalid records (Spark's permissive
    JSON mode turns malformed lines into all-null rows, which would
    otherwise poison chain resolution with null heights). The reference
    fails hard on undecodable blocks; dropping + counting is the batch
    equivalent — use `spark.read.option("mode", "FAILFAST")` semantics
    via validate=False + your own check if ingest must abort instead.

    `prune` (default) reads with `BLOCK_SCHEMA_PRUNED` — the JSON parser
    skips the adProofs/extension subtrees and unused PoW header fields
    entirely. Pass prune=False for the full ApiFullBlock surface (e.g.
    an AD-proof audit job).
    """
    schema = BLOCK_SCHEMA_PRUNED if prune else BLOCK_SCHEMA
    df = spark.read.schema(schema).json(path)
    if validate:
        df = df.filter(
            F.col("header.id").isNotNull()
            & F.col("header.parentId").isNotNull()
            & F.col("header.height").isNotNull()
        )
    if from_height is not None:
        df = df.filter(F.col("header.height") >= from_height)
    return df
