"""Training-data curation operators: deterministic splits and sequence
packing (LLM-pipeline extensions; the reference has no training-data
side — these extend SURVEY §2.6's "operations a large-scale pipeline
needs").

Everything is JVM-side column algebra over the shared portable hash
(`textops.portable_hash`), so both properties that matter at 100 TB
hold: whole-stage codegen end to end, and *reproducibility* — the split
or packing of a document is a pure function of its id/content, not of
partitioning, cluster size, or row order. Re-running on a grown corpus
keeps every previously-assigned document in the same split/shard, which
is what makes held-out sets trustworthy across dataset versions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .textops import portable_hash, tokens
from .util import local_frame

SPLIT_SALT = "split-v1"
DEFAULT_WEIGHTS = (("train", 98), ("val", 1), ("test", 1))


def split_bucket(id_col: Column, salt: str = SPLIT_SALT) -> Column:
    """Deterministic 0..99 bucket from the salted id hash."""
    return portable_hash(F.concat(F.lit(salt), id_col.cast("string"))) % 100


def deterministic_split(
    docs: DataFrame,
    id_col: str = "doc_id",
    weights: tuple[tuple[str, int], ...] = DEFAULT_WEIGHTS,
    salt: str = SPLIT_SALT,
) -> DataFrame:
    """Assign train/val/test by hashing the document id into 100 buckets
    and carving them by the weight table (must sum to ≤ 100). No
    randomness, no sampling shuffle: a narrow projection, so it composes
    with any scan and survives re-partitioning unchanged."""
    bucket = split_bucket(F.col(id_col), salt)
    expr = F.lit(None).cast("string")
    hi = sum(w for _, w in weights)
    for name, w in reversed(weights):
        lo = hi - w
        expr = F.when((bucket >= lo) & (bucket < hi), F.lit(name)).otherwise(
            expr
        )
        hi = lo
    return docs.withColumn("split", expr)


SAMPLE_SALT = "sample-v1"


def sample_bucket(id_col: Column, salt: str = SAMPLE_SALT) -> Column:
    """Deterministic 0..999 bucket from the salted id hash (finer than
    split_bucket so per-stratum rates can be set in 0.1% steps)."""
    return portable_hash(F.concat(F.lit(salt), id_col.cast("string"))) % 1000


def sql_sample_bucket(id_expr: str, salt: str = SAMPLE_SALT) -> str:
    """DuckDB mirror of sample_bucket."""
    return (
        f"(('0x' || substr(md5('{salt}' || CAST({id_expr} AS VARCHAR)), 1, 15))"
        "::BIGINT) % 1000"
    )


def stratified_sample(
    docs: DataFrame,
    rates: dict[str, int],
    default_rate: int,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = SAMPLE_SALT,
) -> DataFrame:
    """Deterministic stratified downsampling: keep a document iff its
    salted id hash lands below the per-stratum rate (in permille). This
    is how a pretraining mixture reweights sources/languages — e.g.
    downsample an over-represented language while keeping every rare
    one — and, like deterministic_split, the keep decision is a pure
    function of the id: re-running on a grown corpus never flips a
    previously-kept document, so dataset versions stay comparable.

    Pure narrow projection + filter: no shuffle, no sampling state,
    composes with any scan. Returns the kept rows with their stratum and
    bucket so downstream stages can audit realized rates.
    """
    bucket = sample_bucket(F.col(id_col), salt)
    rate = F.lit(default_rate)
    for stratum, r in sorted(rates.items()):
        rate = F.when(F.col(stratum_col) == stratum, F.lit(r)).otherwise(rate)
    return (
        docs.withColumn("bucket", bucket)
        .filter(F.col("bucket") < rate)
        .select(id_col, stratum_col, "bucket")
    )


def mixture_weights(
    avail: DataFrame,
    targets: dict[str, int],
    source_col: str = "source",
    avail_col: str = "avail",
) -> DataFrame:
    """Pretraining mixture planning: given per-source available token
    counts and target mixture shares (permille), compute the largest
    total budget the corpus can serve WITHOUT upsampling any source, and
    each source's need + sampling rate for it:

        n_max  = min_s ⌊avail_s · 1000 / t_s⌋   (binding-source budget)
        need_s = ⌊t_s · n_max / 1000⌋
        rate_s = ⌊need_s · 1000 / avail_s⌋      (feed stratified_sample)

    All integer arithmetic (order-independent, engine-exact). Sources
    absent from `targets` are excluded (t_s = 0 ⇒ not sampled).

    Distributed shape: one groupBy upstream produces `avail` (one row
    per source — bounded by the source vocabulary), the target table and
    the 1-row min aggregate are broadcasts; nothing here touches
    documents again.
    """
    spark = avail.sparkSession
    tgt = local_frame(
        spark,
        [(s, int(t)) for s, t in sorted(targets.items())],
        f"{source_col} string, target_permille long",
    )
    # targets are the base relation: a TARGETED source absent from the
    # corpus must drive the budget to 0 (its share is unservable), not
    # silently vanish from the min — so left-join avail onto targets
    # and treat missing as avail = 0.
    j = tgt.join(
        avail.select(
            F.col(source_col), F.col(avail_col).cast("long").alias("avail")
        ),
        source_col,
        "left",
    ).withColumn("avail", F.coalesce(F.col("avail"), F.lit(0)))
    nmax = j.agg(
        F.min(F.expr("avail * 1000 div target_permille")).alias("n_max")
    )
    return (
        j.crossJoin(F.broadcast(nmax))
        .withColumn("need_tokens", F.expr("target_permille * n_max div 1000"))
        .withColumn(
            "rate_permille",
            F.when(
                F.col("avail") > 0, F.expr("need_tokens * 1000 div avail")
            ).otherwise(F.lit(0)),
        )
        .select(
            source_col, "avail", "target_permille", "need_tokens",
            "rate_permille",
        )
    )


def sequence_packing(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_tokens: int = 2048,
    n_shards: int = 64,
) -> DataFrame:
    """Greedy streaming sequence packing: deterministically shard the
    corpus (id-hash % n_shards), order each shard by the same hash, and
    chop the running token stream into `window_tokens` context windows —
    `pack_id` = which window a document STARTS in (the per-worker
    concat-and-chop scheme training loaders use).

    Distributed shape: one hash-partitioned window per shard — state per
    task is a running sum, shard count bounds parallelism (set n_shards
    ≈ executor slots × a few). No global ordering, no driver loop; the
    assignment is reproducible because shard AND order derive from the
    document hash, not from arrival order.
    """
    h = portable_hash(F.col(id_col).cast("string"))
    with_counts = docs.select(
        F.col(id_col),
        F.size(tokens(F.col(text_col))).cast("bigint").alias("n_tokens"),
        (h % n_shards).alias("shard"),
        h.alias("ord"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("ord", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return with_counts.select(
        id_col,
        "shard",
        "n_tokens",
        (start / window_tokens).cast("bigint").alias("pack_id"),
        start.alias("start_offset"),
    )


def systematic_weighted_sample(
    df: DataFrame,
    weight_col: str,
    stride: int,
    order_cols: list[str],
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT floating-point keys:
    classic systematic (cumulative-stride) selection. Rows are laid on
    the integer weight axis by a running sum over a total order; a row
    is selected iff its weight span [cum − w, cum) crosses a stride
    boundary — so selection probability is proportional to weight,
    expected sample size is Σw / stride, and every quantity is exact
    int64 (the A-ES exponential-key scheme needs pow/log, whose last-ulp
    behavior differs between engines — this contract hash-matches).

    Distributed via `cumulative.ordered_prefix` (range partition + one
    tiny per-partition offset collect) — no single-task global window at
    any scale. Output keeps all input columns plus `cum`."""
    from .cumulative import ordered_prefix

    with_cum = ordered_prefix(
        df, order_cols=order_cols, sum_cols={"cum": weight_col}
    )
    # integer `div`, not `/` + cast: float division loses exactness
    # once cum passes 2^53 (a few PB of token-weight), div never does
    return with_cum.filter(
        F.expr(f"cum div {int(stride)}")
        > F.expr(f"(cum - CAST({weight_col} AS BIGINT)) div {int(stride)}")
    )


def hash_order_sample(
    df: DataFrame,
    group_col: str,
    id_col: str,
    k: int,
) -> DataFrame:
    """Deterministic "random" sample of EXACTLY min(k, |group|) rows per
    group: rank by md5(id) within the group and keep rank ≤ k — the
    eval-set / spot-check draw every pipeline needs to be reproducible
    across engines and re-runs (a seeded `rand()` is neither: Spark and
    DuckDB disagree, and even Spark re-draws per partition layout).

    md5 of the id string is a uniform, engine-identical order; (md5, id)
    is a total order, so the k-row cut is unique. One shuffle on the
    group key; the per-group window state is one rank counter. Unlike
    `sample_bucket` (a fixed-RATE filter), this pins an exact per-group
    COUNT — the stratified-k draw."""
    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
    )


def quantile_normalize(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
) -> DataFrame:
    """Quantile normalization across groups → each row's value replaced
    by the GLOBAL value at its within-group quantile position:
    norm = global_sorted[⌈rank_in_group · N_global / N_group⌉]. The
    corpus-mixing normalizer — per-source quality scores living on
    different scales become comparable by rank, expressed on the global
    ladder, all in exact integer arithmetic (no float quantiles).

    Scale shape: the global ladder and the per-group ranks both come
    from `ordered_prefix`/`coarse_partition_rank` (range-partitioned,
    no single-task window); group sizes are a tiny broadcast dim; the
    final lookup is an equi-join on the ladder index. rank·N_global
    stays in int64 up to ~10⁹ rows per side — cast the product to
    DECIMAL(38,0) past that.

    Rows with a NULL group or NULL value are unnormalizable and are
    EXCLUDED up front (explicitly, not as a join accident): a null
    group has no group size, a null value no rank position. The filter
    makes the group-size equi-join's null-drop a documented contract
    both engines share."""
    from .cumulative import coarse_partition_rank, ordered_prefix

    df = df.filter(
        F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    )

    g = ordered_prefix(
        df.select(F.col(value_col).alias("__v"), F.col(id_col).alias("__i")),
        ["__v", "__i"],
        row_col="__gix",
    ).select(F.col("__gix"), F.col("__v").alias("__norm"))
    ns_rows = (
        df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__ns")).collect()
    )
    ng = sum(r["__ns"] for r in ns_rows)
    ns = local_frame(
        df.sparkSession,
        [(r[group_col], r["__ns"]) for r in ns_rows],
        df.select(group_col).schema.add("__ns", "long"),
    )
    r = coarse_partition_rank(df, group_col, [value_col, id_col], "__rs")
    target = r.join(F.broadcast(ns), group_col).withColumn(
        "__gix",
        F.expr(f"(__rs * CAST({ng} AS BIGINT) + __ns - 1) div __ns"),
    )
    return (
        target.join(g, "__gix")
        .select(*df.columns, F.col("__norm").alias("norm_val"))
    )
