"""Persisted MinHash signature store: the 100 TB corpus-refresh posture.

`incremental_dedup` derives the base corpus's shingle sets and banded
signatures inline on every call — self-contained, but at 100 TB the
derivation (tokenize → shingle → hash → 12 min-aggs) is the dominant
cost and it never changes for already-accepted documents. This module
makes those artifacts a STORED, incrementally-appended dataset, exactly
what `incremental_dedup`'s docstring promises ("at scale the base
signatures are a precomputed artifact written at accept time"):

  {path}/meta               one-row parquet: shingle n, shards, hash
                            config fingerprint — validated on every use
  {path}/bands/batch=<id>   (doc_id, band, bsig) banded signatures
  {path}/shingles/batch=<id>, shard=<s>
                            (doc_id, h) hashed shingle sets, sharded by
                            a hash of doc_id for candidate-pruned reads
  {path}/counts/batch=<id>, shard=<s>
                            (doc_id, nb) per-doc shingle counts, same
                            sharding (the nb join touches candidates
                            only, so its read prunes identically)

Layout invariants:
  * every write lands under its own ``batch=<label>`` partition with
    mode=overwrite — the same idempotent-commit layout as
    streaming/corpus_refresh.process_batch, so at-least-once redelivery
    rewrites a batch directory instead of double-appending;
  * the verification read prunes ``shingles`` to the shards that hold
    candidate docs — the driver collects at most `shards` distinct
    shard ids (bounded, default 64), and partition pruning drops every
    other directory from the scan. Bands and counts are doc-dim-narrow
    (NUM_HASHES longs / one long per doc) and read whole.

Screening a batch then touches: the full (narrow) band table once for
the cross-side band join, and only the candidate shards of the (wide)
shingle table — never the base text, never non-candidate shingles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .util import local_frame, pin_corpus_dim
from .dedup import (
    LSH_BANDS,
    all_keep_decisions,
    MINHASH_A,
    MINHASH_B,
    NUM_HASHES,
    banded_signatures,
    hashed_shingle_arrays,
    minhash_signatures_from_arrays,
    screen_cross_candidates,
)

DEFAULT_SHARDS = 64
SEED_BATCH = "seed"


def _hash_fingerprint() -> str:
    """Identifies the minhash parameterization baked into stored
    signatures, so a store written under different constants can never
    be silently screened against."""
    import hashlib

    key = f"{NUM_HASHES}:{LSH_BANDS}:{MINHASH_A}:{MINHASH_B}"
    return hashlib.md5(key.encode()).hexdigest()[:16]


def _shard(col, n_shards: int):
    return F.pmod(F.xxhash64(col), F.lit(n_shards))


def write_signature_store(
    docs: DataFrame,
    path: str,
    batch: str = SEED_BATCH,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int | None = None,
    n_shards: int | None = None,
) -> None:
    """Write (or idempotently rewrite) one batch of dedup artifacts.

    The first call (any batch label) also writes `{path}/meta`. On an
    existing store, omitted `n`/`n_shards` ADOPT the store's meta (the
    accept-time append path never has to restate the seed's
    parameters); explicitly passed values that contradict the meta
    raise, so appended batches can never mix shingle sizes or shard
    counts."""
    spark = docs.sparkSession
    meta = _read_meta(spark, path)
    if meta is None:
        n = 3 if n is None else n
        n_shards = DEFAULT_SHARDS if n_shards is None else n_shards
    else:
        n_meta, shards_meta, fp = meta
        n = n_meta if n is None else n
        n_shards = shards_meta if n_shards is None else n_shards
        if (n_meta, shards_meta, fp) != (n, n_shards, _hash_fingerprint()):
            raise ValueError(
                f"signature store at {path} was written with "
                f"(n={n_meta}, shards={shards_meta}, fp={fp}); "
                f"got (n={n}, shards={n_shards}, fp={_hash_fingerprint()})"
            )
    # ONE codegen scan builds the doc-dim sorted-hash arrays; the
    # row-form store tables (shingles, counts) and the signatures all
    # derive from the pinned arrays without re-tokenizing — the store's
    # ON-DISK format stays row-form (shard-pruned equi-joins at screen
    # time), only the derivation changed.
    arr = pin_corpus_dim(hashed_shingle_arrays(docs, id_col, text_col, n))
    bands = banded_signatures(minhash_signatures_from_arrays(arr))
    bands.write.mode("overwrite").parquet(f"{path}/bands/batch={batch}")
    sh = arr.select("doc_id", F.explode("hs").alias("h"))
    (
        sh.withColumn("shard", _shard(F.col("doc_id"), n_shards))
        # cluster by shard before the partitioned write: one task per
        # shard → one file per shard dir instead of (tasks × shards)
        # small files
        .repartition(n_shards, "shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(f"{path}/shingles/batch={batch}")
    )
    (
        # counts read off the array sizes — docs with zero shingles
        # carry no row, matching the old groupBy-over-rows form
        arr.filter(F.size("hs") > 0)
        .select("doc_id", F.size("hs").cast("long").alias("nb"))
        .withColumn("shard", _shard(F.col("doc_id"), n_shards))
        .repartition(n_shards, "shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(f"{path}/counts/batch={batch}")
    )
    # all three store tables are on disk now — free the corpus-dim pin
    arr.unpersist(blocking=False)
    if meta is None:
        # meta is written LAST: its presence marks a complete seed, so
        # a crash mid-seed leaves a store that _read_meta reports as
        # absent (the next write self-heals by overwriting the partial
        # batch) instead of a half-written store whose meta exists but
        # whose bands/shingles tables are missing.
        local_frame(
            spark,
            [(n, n_shards, _hash_fingerprint())],
            "n int, n_shards int, hash_fp string",
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")


def _read_meta(spark: SparkSession, path: str):
    from pyspark.errors import AnalysisException

    try:
        row = spark.read.parquet(f"{path}/meta").head()
    except AnalysisException:
        return None
    if row is None:  # interrupted first write left an empty meta:
        return None  # treat as absent so the next write self-heals
    return (row["n"], row["n_shards"], row["hash_fp"])


def _read_part(
    spark: SparkSession, path: str, table: str, exclude_batch: str | None
) -> DataFrame:
    df = spark.read.option("basePath", f"{path}/{table}").parquet(
        f"{path}/{table}"
    )
    if exclude_batch is not None:
        df = df.filter(F.col("batch").cast("string") != F.lit(exclude_batch))
    return df.drop("batch")


def incremental_dedup_from_store(
    new_docs: DataFrame,
    path: str,
    num: int = 4,
    den: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    exclude_batch: str | None = None,
) -> DataFrame:
    """Screen a new batch against a signature store → (doc_id, dup_of,
    keep), identical decisions to `incremental_dedup(new, base)` for
    the base corpus the store was built from (equivalence pinned by
    test_signature_store).

    `exclude_batch` drops one batch partition from every read — the
    redelivery guard when the in-flight batch's own artifacts may
    already be committed (same contract as corpus_refresh.read_base).

    The base side is never re-derived: bands stream out of the store
    into the cross-side band join, and the shingle read is pruned to
    candidate shards (a bounded ≤ n_shards driver collect turns into
    parquet partition pruning)."""
    spark = new_docs.sparkSession
    meta = _read_meta(spark, path)
    if meta is None:
        raise ValueError(f"no signature store at {path}")
    n, n_shards, fp = meta
    if fp != _hash_fingerprint():
        raise ValueError(
            f"signature store at {path} uses hash config {fp}, "
            f"engine has {_hash_fingerprint()}"
        )
    arr_new = pin_corpus_dim(hashed_shingle_arrays(new_docs, id_col, text_col, n))
    sh_new = arr_new.select("doc_id", F.explode("hs").alias("h"))
    sig_new = minhash_signatures_from_arrays(arr_new).localCheckpoint(
        eager=True
    )
    bn = banded_signatures(sig_new).select(
        F.col("doc_id").alias("new_id"), "band", "bsig"
    )
    bb = _read_part(spark, path, "bands", exclude_batch).select(
        F.col("doc_id").alias("base_id"), "band", "bsig"
    )
    cand = (
        bn.join(bb, ["band", "bsig"])
        .select("new_id", "base_id")
        .distinct()
        .localCheckpoint(eager=True)
    )
    # bounded collect (≤ n_shards longs) → partition-pruned shingle read
    shard_rows = (
        cand.select(_shard(F.col("base_id"), n_shards).alias("s"))
        .distinct()
        .collect()
    )
    shards = [r["s"] for r in shard_rows]
    if not shards:  # no band collisions: the whole batch is novel
        # free the corpus-dim pin on this early return too — novel
        # batches screened in a long session would otherwise each leave
        # one persisted table in the CacheManager
        arr_new.unpersist(blocking=False)
        return all_keep_decisions(new_docs, id_col)
    sh_base = (
        _read_part(spark, path, "shingles", exclude_batch)
        .filter(F.col("shard").isin(shards))
        .drop("shard")
    )
    # counts carry the same sharding: the nb join only ever touches
    # candidate base docs, so the read prunes to candidate shards too
    nb = (
        _read_part(spark, path, "counts", exclude_batch)
        .filter(F.col("shard").isin(shards))
        .drop("shard")
    )
    out = screen_cross_candidates(
        new_docs, sh_new, sh_base, nb, cand, num, den, id_col=id_col
    )
    from .util import materialize_and_release

    return materialize_and_release(out, arr_new)
