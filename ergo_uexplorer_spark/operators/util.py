"""Shared operator plumbing."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from . import sizing


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: StructType | str
) -> DataFrame:
    """A frame over driver-side `rows` with the given Spark `schema` (a
    StructType or a DDL string), built as an Arrow ``LocalRelation``.

    ``spark.createDataFrame(<python list>)`` plans a ``LogicalRDD`` over
    a Python RDD: every scan of it runs one Python worker task per
    default-parallelism slot, each costing about 0.25 s of worker CPU
    however few rows it gets (SCALE.md "Python worker tax"). A
    ``pyarrow.Table`` is handed to the JVM whole and scanned with no
    Python task. The values go through `pa.array` with the schema's
    Arrow types, so an out-of-range or mistyped value raises here."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


def pin_corpus_dim(df: DataFrame) -> DataFrame:
    """Pin a reduced-but-CORPUS-sized table (doc-dim hash arrays,
    per-doc token stats) so multi-stage candidate/verify operators
    derive every stage from ONE materialization.

    Storage is the SQL columnar cache (`persist`), not a
    `localCheckpoint`: cached batches are compressed columnar buffers
    that unroll in bounded ~10k-row chunks and spill to disk under
    pressure — the deserialized row blocks the old checkpoint pin held
    were 3-5× larger and OOM'd a 12 GB single-box session once two
    100×-scale pins coexisted (SCALE.md round-8 soak) — and, unlike
    checkpoint blocks (reclaimed only when the Python wrapper is GC'd),
    a persisted pin is EXPLICITLY released by `materialize_and_release`
    once the operator's output is materialized, so repeated dedup calls
    in one session no longer accumulate corpus-sized blocks.

    The pin is lazy: the caller's first action builds the cache. Every
    caller's first action is itself a full pass over the pin (a stats
    aggregate, a signature or candidate checkpoint), so pinning costs
    no extra scheduled job (r13). The storage level is
    `sizing.pin_serialized`'s choice."""
    from pyspark.storagelevel import StorageLevel

    level = (
        StorageLevel.MEMORY_AND_DISK
        if sizing.pin_serialized(df)
        else StorageLevel.MEMORY_AND_DISK_DESER
    )
    return df.persist(level)


def materialize_and_release(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Pin `result` with an eager ``localCheckpoint`` and unpersist the
    `cached` intermediates (corpus pins, persisted shingle tables) that
    fed it.

    Multi-stage candidate/verify operators persist expensive
    intermediates (doc-dim hash arrays, shingle sets) that the lazily
    returned result still references — so the operator itself can't
    unpersist them before the caller materializes. Left alone, those
    ``persist()`` entries pin executor storage for the LIFETIME of the
    session (the CacheManager holds strong references; the driver runs
    ~50 queries in one session). Checkpointing the result first is safe
    because it is the operator's OUTPUT — near-dup/verified-pair sets,
    orders of magnitude smaller than the corpus — and RDD-level
    checkpoint blocks are reclaimed by the ContextCleaner once the
    DataFrame is garbage collected, unlike CacheManager entries.
    """
    out = result.localCheckpoint(eager=True)
    for df in cached:
        df.unpersist(blocking=False)
    return out


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Tokenize/shingle stages are CPU-bound string work: a corpus that
    arrives in few files (one 128 MB parquet = 1 partition) would pin a
    single core. Spread it before exploding; no-op when the scan already
    has enough splits (the 100 TB case).

    Streaming frames pass through untouched (their parallelism is the
    source's; `df.rdd` would throw). The batch probe via `df.rdd` is a
    driver-side plan conversion only — no job runs."""
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
