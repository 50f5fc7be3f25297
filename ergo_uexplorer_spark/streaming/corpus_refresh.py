"""Corpus refresh: the incremental form of the z21 operator.

New documents arrive in batches; `process_batch(batch, batch_id, ...)`
has the `foreachBatch` callback's shape, so a stream can drive it
directly. Every batch is screened against the ACCEPTED base corpus with
`dedup.incremental_dedup` (cross-side-only MinHash-LSH + exact verify)
and the survivors append to the base — so a document accepted in batch
k is part of the dedup base for batch k+1.
This is the loop a continuously-crawling pipeline actually runs: the
base corpus only ever grows by screened batches, and nothing ever
re-pairs the base against itself.

Idempotency: each batch's accepted docs land in their own
``batch=<id>`` subdirectory with mode=overwrite, so foreachBatch
redelivery (at-least-once) rewrites the same directory instead of
double-appending — the same per-batch-commit idea as
streaming/incremental.UtxoState, with the directory name as the commit
marker. The base read is partition-discovery over those directories.

Two base-side modes: the self-contained default re-derives the base's
signatures from the base parquet each batch (touching base text only
for candidate verification); `store_path=` switches to the persisted
signature store (`operators/sigstore.py`) — the 100 TB posture, where
accepted docs' artifacts are written once at accept time and screening
never re-reads base text at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import all_keep_decisions, incremental_dedup
from ..operators.sigstore import SEED_BATCH


def seed_base(
    docs: DataFrame, base_path: str, store_path: str | None = None
) -> None:
    """Write the initial accepted corpus (batch=seed). With
    `store_path`, also write its signature-store artifacts — the
    at-scale posture where accepted docs' signatures are persisted at
    accept time and later batches never re-derive the base side."""
    docs.write.mode("overwrite").parquet(f"{base_path}/batch={SEED_BATCH}")
    if store_path is not None:
        from ..operators.sigstore import write_signature_store

        write_signature_store(docs, store_path, batch=SEED_BATCH)


def read_base(
    spark: SparkSession,
    base_path: str,
    exclude_batch: str | None = None,
) -> DataFrame | None:
    """The accepted corpus across all committed batches (None before
    any seed/commit).

    ``exclude_batch`` drops one ``batch=<id>`` partition from the read:
    on foreachBatch redelivery (at-least-once) the first attempt may
    already have written the in-flight batch's own directory, and
    screening the batch against its own prior output would make every
    accepted doc near-dup itself and be silently dropped. Only
    AnalysisException (path missing) maps to None — real read failures
    (corrupt files, permissions) propagate so the batch retries instead
    of being accepted unscreened.
    """
    from pyspark.errors import AnalysisException

    try:
        base = spark.read.option("basePath", base_path).parquet(base_path)
    except AnalysisException:  # path missing / empty: no base yet
        return None
    if exclude_batch is not None:
        base = base.filter(F.col("batch").cast("string") != F.lit(exclude_batch))
    return base.drop("batch")


def process_batch(
    batch: DataFrame,
    batch_id: int,
    base_path: str,
    decisions_path: str | None = None,
    num: int = 4,
    den: int = 5,
    store_path: str | None = None,
) -> None:
    """One refresh step: screen `batch` against the accepted base and
    commit survivors to ``batch=<id>``. Idempotent under foreachBatch
    redelivery: the base read excludes the in-flight batch's own
    partition, so a re-run screens against exactly the pre-batch base
    and rewrites the same directory with the same decisions.

    With `store_path` (seeded via `seed_base(..., store_path=)`), the
    base side comes from the persisted signature store instead of being
    re-derived from base text, and survivors' signatures are appended
    to the store at accept time — every store write is its own
    ``batch=<id>`` overwrite, so redelivery stays idempotent. This is
    the 100 TB refresh shape: per batch the engine touches the narrow
    band table plus candidate-shard shingles, never the base corpus."""
    spark = batch.sparkSession
    if store_path is not None:
        from ..operators.sigstore import (
            _read_meta,
            incremental_dedup_from_store,
            write_signature_store,
        )

        if _read_meta(spark, store_path) is None:
            # unseeded store: if the BASE already has accepted batches
            # (seeded earlier without store_path), silently keeping the
            # whole batch would admit near-dups of the existing base —
            # backfill the store from the base once, then screen
            # normally. A truly empty base is the genuine first batch.
            existing = read_base(spark, base_path, exclude_batch=str(batch_id))
            if existing is not None:
                write_signature_store(
                    existing.select(*batch.columns), store_path
                )
                decisions = incremental_dedup_from_store(
                    batch,
                    store_path,
                    num=num,
                    den=den,
                    exclude_batch=str(batch_id),
                )
            else:
                decisions = all_keep_decisions(batch)
        else:
            decisions = incremental_dedup_from_store(
                batch,
                store_path,
                num=num,
                den=den,
                exclude_batch=str(batch_id),
            )
    else:
        base = read_base(spark, base_path, exclude_batch=str(batch_id))
        if base is None:
            decisions = all_keep_decisions(batch)
        else:
            decisions = incremental_dedup(
                batch, base.select(*batch.columns), num=num, den=den
            )
    kept = batch.join(
        decisions.filter(F.col("keep")).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    kept.write.mode("overwrite").parquet(f"{base_path}/batch={batch_id}")
    if store_path is not None:
        from ..operators.sigstore import write_signature_store

        write_signature_store(kept, store_path, batch=str(batch_id))
    if decisions_path:
        decisions.write.mode("overwrite").parquet(
            f"{decisions_path}/batch={batch_id}"
        )
