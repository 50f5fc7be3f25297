"""Similarity search over embedding columns (`array<float>`).

Brute-force cosine top-k is the exactness baseline: broadcast the (small)
query set, crossJoin against the corpus — the corpus side never shuffles,
so this scales linearly with corpus size × |queries|. The LSH variant
(random ±1 hyperplanes → sign-bit bucket) prunes candidates to one bucket
per query: that is the 100-TB path (bucket id is a join key, so the
corpus is hash-partitioned by bucket and each query touches ~1/2^P of it).

Dot products/norms use `zip_with` + `aggregate` (JVM-side, codegen) — a
left-to-right fold in double precision, bit-identical to DuckDB's
`list_sum(list_transform(...))`, which keeps the oracle hash stable.
No pandas UDF needed at 64 dims; for very wide vectors swap in a
vectorized pandas_udf with the same signature.
"""

from __future__ import annotations

import random

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .util import materialize_and_release


# ---------------------------------------------------------------------------
# hyperplane-LSH constants (seeded ±1 planes, shared with the SQL oracle)
# ---------------------------------------------------------------------------
# 9 planes → 512 buckets; with the default 8-bucket multi-probe each
# query touches 8/512 = 1/64 of the corpus (the round-2 review flagged
# 4 planes/16 buckets as a selectivity cliff at scale).
LSH_PLANES = 9
LSH_PROBES = 8
EMB_DIM = 64
_rng = random.Random(7)
PLANES: tuple[tuple[int, ...], ...] = tuple(
    tuple(_rng.choice((-1, 1)) for _ in range(EMB_DIM)) for _ in range(LSH_PLANES)
)

# IVF fixed coarse quantizer (seeded, shared verbatim with the SQL
# oracle): 128 cells, 2 probes → 1/64 of the corpus per query. The
# data-adaptive k-means quantizer (`ivf_build_centroids`) remains the
# production path; the fixed one exists so the IVF search plan is
# oracle-checkable end to end (a k-means oracle would have to replicate
# the iteration in SQL).
IVF_CELLS = 128
_ivf_rng = random.Random(4242)
FIXED_CENTROIDS: tuple[tuple[float, ...], ...] = tuple(
    tuple(_ivf_rng.uniform(-1.0, 1.0) for _ in range(EMB_DIM))
    for _ in range(IVF_CELLS)
)

# banded near-dup LSH: ND_BANDS independent 8-plane bucketings. A pair is
# a candidate iff it shares a bucket in ANY band (OR-amplification).
# At a production dup threshold (cos ≥ 0.9, θ/π ≈ 0.144) per-band
# collision is 0.856^8 ≈ 0.29 → recall 1-(1-0.29)^16 ≈ 0.995 while a
# random pair collides with prob 16/256 ≈ 6% — candidates stay ~6% of
# all-pairs. (At the synthetic suite threshold 0.4 the contrast is far
# weaker — recall ≈ 0.4 — documented; the oracle mirrors the bands so
# parity is exact either way.)
ND_BANDS = 16
ND_PLANES_PER_BAND = 8
_nd_rng = random.Random(1234)
ND_PLANES: tuple[tuple[tuple[int, ...], ...], ...] = tuple(
    tuple(
        tuple(_nd_rng.choice((-1, 1)) for _ in range(EMB_DIM))
        for _ in range(ND_PLANES_PER_BAND)
    )
    for _ in range(ND_BANDS)
)


# Product-quantization codebooks (Jégou et al., PQ for nearest-neighbor
# search): EMB_DIM split into PQ_M orthogonal subspaces of PQ_SUBDIM
# dims, each quantized to PQ_K seeded sub-centroids → a corpus vector
# compresses to PQ_M small ints (8 bytes instead of 256 — the reason PQ
# exists at 100 TB: the cell-scan side of IVF carries codes, vectors are
# fetched only for the refined candidates). Seeded + shared with the SQL
# oracle like FIXED_CENTROIDS.
PQ_M = 8
PQ_SUBDIM = EMB_DIM // PQ_M
PQ_K = 16
_pq_rng = random.Random(909)
PQ_CODEBOOKS: tuple[tuple[tuple[float, ...], ...], ...] = tuple(
    tuple(
        tuple(_pq_rng.uniform(-1.0, 1.0) for _ in range(PQ_SUBDIM))
        for _ in range(PQ_K)
    )
    for _ in range(PQ_M)
)


def valid_embeddings(
    emb: DataFrame,
    vec_col: str = "embedding",
    dim: int | None = None,
    finite: bool = False,
) -> DataFrame:
    """Filter to usable vectors: non-null, and size == `dim` when the
    operator binds a fixed dimensionality (the seeded PLANES /
    centroid tables). Every public similarity operator applies this at
    entry, because the two execution paths previously DISAGREED on bad
    rows: the zip_with/aggregate fold silently yields a null score for
    a ragged vector (zip_with pads with null) so the row just vanishes
    past the threshold filter, while the Arrow path's np.stack RAISES
    and kills the executor task — one null embedding in a 100 TB
    corpus failed the whole job. Dropping is the correct semantics
    (no vector ⇒ no similarity).

    A NULL ELEMENT inside a correct-length vector is screened at this
    BASE level (r11, after the -7 dirty row exposed it): Spark's
    zip_with/aggregate fold propagates the null into a NULL/NaN score
    while DuckDB's list functions SKIP null elements and produce a
    finite score — the engines structurally disagree, so unlike NaN
    (which both rank largest) a null element cannot be allowed to
    flow. No-element-vector ⇒ malformed vector, same as ragged.

    `finite=True` additionally drops vectors with NaN/±Inf ELEMENTS —
    required by the INTEGER-EXACT statistics family (gram,
    quantization, k-means, norm stats), where one NaN reaches a
    round+cast and kills the job on BOTH engines (ANSI CAST_OVERFLOW /
    DuckDB ConversionException — the dirty-twin sweep's finding). The
    ANN scoring family deliberately does NOT set it: a NaN score ranks
    as largest in Spark and DuckDB alike, so the engines agree without
    dropping data."""
    cond = F.col(vec_col).isNotNull() & ~F.exists(
        vec_col, lambda x: x.isNull()
    )
    if dim is not None:
        cond = cond & (F.size(vec_col) == dim)
    if finite:
        cond = cond & ~F.exists(
            vec_col,
            lambda x: F.isnan(x.cast("double"))
            | (F.abs(x.cast("double")) == F.lit(float("inf"))),
        )
    return emb.filter(cond)


def _stack_batch(vecs, np):
    """np.stack with a diagnosable failure: a RAGGED Arrow batch (mixed
    embedding dims inside one operator call) is a contract violation —
    surface what to do instead of numpy's shape error."""
    try:
        return np.asarray(np.stack(vecs.to_numpy()), dtype=np.float64)
    except ValueError as ex:
        raise ValueError(
            "ragged embedding dimensions inside one batch — run "
            "valid_embeddings(dim=...) to drop mixed-dim rows before "
            f"this operator ({ex})"
        ) from ex


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold double dot product (portable across engines)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: broadcast queries × corpus, per-query window.

    Returns (q_id, n_id, cos_sim) with deterministic (cos desc, id asc)
    ranking; self-matches excluded.
    """
    emb = valid_embeddings(emb, vec_col)
    queries = valid_embeddings(queries, vec_col)
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("qv")
    )
    c = emb.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("nv"))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("q_id") != F.col("n_id"))
        # dim-generic conformability guard: a ragged corpus vector would
        # zip_with-pad into a null score and ride the ranking as a null
        # row; score only dimension-matched pairs
        .filter(F.size("qv") == F.size("nv"))
        .withColumn("cos_sim", cosine(F.col("qv"), F.col("nv")))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("n_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "n_id", "cos_sim")
    )


def _plane_array(plane: tuple[int, ...]) -> Column:
    return F.array(*[F.lit(float(v)) for v in plane])


def _nd_band_bucket(vec: Column, band: int) -> Column:
    """Sign-bit bucket id (0..2^8-1) for one near-dup band."""
    out = F.lit(0)
    for p, plane in enumerate(ND_PLANES[band]):
        out = out + F.when(dot(vec, _plane_array(plane)) > 0, F.lit(1 << p)).otherwise(
            0
        )
    return out


def _sign_bucket_batch(V, P, n_bands: int, per_band: int):
    """Sign-bit bucket ids for a (n, EMB_DIM) float64 batch against a
    (n_bands·per_band, EMB_DIM) ±1 plane matrix → (n, n_bands) int32.

    One BLAS matmul computes every plane dot per row; a bucket only
    consumes the SIGN of each dot, and the sign must agree bitwise with
    the sequential left fold the HOF path / SQL oracle evaluate. The two
    summation orders can disagree on sign only when the true dot lies
    within the rounding envelope |Σ| ≲ 64·u·Σ|terms| (u = 2^-53): every
    dot whose matmul value falls inside a 1e-10·Σ|v| guard band (4+
    orders above that envelope, since |plane_i| = 1 makes Σ|terms| =
    Σ|v| for every plane) is recomputed with the exact fold order
    (np.cumsum is defined sequentially), so the decision boundary is
    exact while ~all dots take the fast path.
    """
    import numpy as np

    D = V @ P.T
    guard = np.abs(V).sum(axis=1) * 1e-10
    rows, cols = np.nonzero(np.abs(D) <= guard[:, None])
    for r, c in zip(rows.tolist(), cols.tolist()):
        D[r, c] = np.cumsum(V[r] * P[c])[-1]
    pos = (D > 0).reshape(len(V), n_bands, per_band)
    bits = 1 << np.arange(per_band, dtype=np.int64)
    return (pos * bits).sum(axis=2).astype(np.int32)


_ND_PLANES_MAT = None  # lazily-built (ND_BANDS*8, EMB_DIM) float64 matrix


def _nd_buckets_batch(V):
    """All ND_BANDS near-dup band buckets for a float64 batch. The plane
    matrix is built once per process, not per Arrow batch (it is 8k
    floats flattened from nested tuples — pure repeated overhead when a
    corpus scan runs thousands of batches)."""
    import numpy as np

    global _ND_PLANES_MAT
    if _ND_PLANES_MAT is None:
        _ND_PLANES_MAT = np.asarray(
            [p for band in ND_PLANES for p in band], dtype=np.float64
        )
    return _sign_bucket_batch(V, _ND_PLANES_MAT, ND_BANDS, ND_PLANES_PER_BAND)


def _nd_all_buckets(vec: Column, banding: str = "vectorized") -> Column:
    """array<int> of all ND_BANDS bucket ids for one vector.

    `banding="vectorized"` (default) runs the Arrow-batched numpy path —
    one matmul per batch instead of 128 interpreted HOF folds per row
    (~10× off the d05 banding stage at sf0.1). `banding="hof"` keeps the
    pure column-algebra fold; a regression test pins the two paths to
    identical bucket values on fixture + adversarial vectors.
    """
    if banding == "hof":
        return F.array(*[_nd_band_bucket(vec, band) for band in range(ND_BANDS)])
    if banding != "vectorized":
        raise ValueError(f"banding must be 'vectorized' or 'hof', got {banding!r}")

    @F.pandas_udf("array<int>")
    def nd_buckets(vecs: pd.Series) -> pd.Series:
        import numpy as np

        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        V = _stack_batch(vecs, np)
        return pd.Series(list(_nd_buckets_batch(V)))

    return nd_buckets(vec)


def near_dup_pairs(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup pairs (a < b, cos ≥ threshold) via
    banded hyperplane-LSH bucketing + exact verify — same composition as
    MinHash→LSH→verify in dedup.py:

      1. each vector gets one bucket id per band (ND_BANDS unions of a
         projection — no shuffle beyond the candidate join);
      2. candidates = equi-join on (band, bucket), ids only, distinct;
      3. exact cosine verify over candidates via two hash-joins back to
         the vector table.

    The plan contains NO cartesian/all-pairs product: the corpus is
    hash-partitioned by (band, bucket) and candidate volume per bucket
    is |bucket|², with 2^8 buckets per band. Candidate rows carry two
    longs; vectors travel only for the verify join. Recall is the
    banded-LSH OR-amplification curve (see ND_BANDS comment) — the
    deterministic seeded planes are mirrored in the SQL oracle, so both
    engines return the identical pair set."""
    emb = valid_embeddings(emb, vec_col, EMB_DIM, finite=True)
    e = emb.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("v"),
        F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("norm"),
    ).persist()
    # single-pass banding: ONE projection computes all ND_BANDS bucket
    # ids as an array, posexplode fans out to (vid, band, bkt) — the
    # Generate node materializes each bucket expression once, vs the
    # old 16-way unionByName that re-scanned `e` per band (~18% of the
    # operator at sf0.1). Bucket values are unchanged, so the SQL
    # oracle's banding mirrors exactly as before.
    allb = e.select(
        "vid",
        F.posexplode(_nd_all_buckets(F.col("v"))).alias("band", "bkt"),
    )
    ba, bb = allb.alias("a"), allb.alias("b")
    cand = (
        ba.join(
            bb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkt") == F.col("b.bkt"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        .select(F.col("a.vid").alias("vec_a"), F.col("b.vid").alias("vec_b"))
        .distinct()
        # staged execution (see dedup.minhash_lsh_pairs): candidate id
        # pairs are tiny — checkpoint so the verify join starts from a
        # bounded RDD rather than re-walking the banding DAG twice
        .localCheckpoint(eager=True)
    )
    va = e.select(
        F.col("vid").alias("vec_a"), F.col("v").alias("va"), F.col("norm").alias("na")
    )
    vb = e.select(
        F.col("vid").alias("vec_b"), F.col("v").alias("vb"), F.col("norm").alias("nb")
    )
    out = (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .withColumn(
            "cos_sim", dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
        )
        .filter(F.col("cos_sim") >= threshold)
        .select("vec_a", "vec_b", "cos_sim")
    )
    return materialize_and_release(out, e)


def near_dup_pairs_allpairs(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact all-pairs baseline (test-only): O(n²) by definition; used to
    measure the bucketed variant's recall."""
    emb = valid_embeddings(emb, vec_col, EMB_DIM, finite=True)
    e = emb.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("v"),
        F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("norm"),
    )
    a = e.select(
        F.col("vid").alias("vec_a"), F.col("v").alias("va"), F.col("norm").alias("na")
    )
    b = e.select(
        F.col("vid").alias("vec_b"), F.col("v").alias("vb"), F.col("norm").alias("nb")
    )
    return (
        a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn(
            "cos_sim", dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
        )
        .filter(F.col("cos_sim") >= threshold)
        .select("vec_a", "vec_b", "cos_sim")
    )


def semantic_dedup(
    emb: DataFrame,
    centroids: list[list[float]],
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): cluster-scoped
    embedding dedup → (vec_id, cell, keep). Each vector is assigned to
    its nearest coarse centroid (the same quantizer as the IVF index —
    at scale the assignment is the already-built index, paid once);
    pairwise cosine runs WITHIN each cell only, and the larger id of any
    pair ≥ threshold is dropped (deterministic victim, matching the
    near-dup keep rule in corpus.clean_corpus).

    This is the complementary shape to `near_dup_pairs`: hyperplane-LSH
    buckets catch high-cosine twins regardless of location, SemDeDup
    catches semantic redundancy inside data-adaptive clusters. Scale
    posture: pair generation is an equi-join on the cell id — candidate
    volume per cell is |cell|² with k cells sized so |cell| ≈ n/k (the
    paper's k ≈ √n keeps the quadratic term at n^1.5 total, embarrass-
    ingly parallel per cell), and the global all-pairs product never
    appears in the plan. Ids-only pairs; vectors travel once into the
    per-cell join."""
    cells = (
        ivf_assign(emb, centroids, id_col, vec_col)
        .select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).alias("v"),
            F.col("centroid_id").alias("cell"),
        )
        .withColumn("norm", F.sqrt(dot(F.col("v"), F.col("v"))))
        .persist()
    )
    a = cells.select(
        F.col("vid").alias("vec_a"),
        F.col("v").alias("va"),
        F.col("norm").alias("na"),
        "cell",
    )
    b = cells.select(
        F.col("vid").alias("vec_b"),
        F.col("v").alias("vb"),
        F.col("norm").alias("nb"),
        "cell",
    )
    victims = (
        a.join(b, "cell")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn(
            "cos_sim",
            dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select(F.col("vec_b").alias("vid"))
        .distinct()
    )
    out = (
        cells.select("vid", "cell")
        .join(victims.withColumn("dup", F.lit(True)), "vid", "left")
        .select(
            F.col("vid").alias(id_col),
            F.col("cell").cast("bigint").alias("cell"),
            F.col("dup").isNull().alias("keep"),
        )
    )
    return materialize_and_release(out, cells)


def _bucket(vec: Column) -> Column:
    """Sign-bit bucket id from the fixed ±1 hyperplanes."""
    out = F.lit(0)
    for p, plane in enumerate(PLANES):
        lit_plane = F.array(*[F.lit(float(v)) for v in plane])
        out = out + F.when(dot(vec, lit_plane) > 0, F.lit(1 << p)).otherwise(0)
    return out


def _bucket_vectorized(vec: Column) -> Column:
    """Arrow-batched `_bucket` (corpus-scan side of `lsh_topk`): one
    matmul per batch against the 9 LSH planes, sign decisions
    bitwise-equal to the HOF fold via `_sign_bucket_batch`'s guarded
    recompute — a parity test pins the two paths to identical ids."""

    @F.pandas_udf("int")
    def lsh_bucket(vecs: pd.Series) -> pd.Series:
        import numpy as np

        if len(vecs) == 0:
            return pd.Series([], dtype="int32")
        V = _stack_batch(vecs, np)
        P = np.asarray(PLANES, dtype=np.float64)
        return pd.Series(
            _sign_bucket_batch(V, P, 1, LSH_PLANES)[:, 0]
        )

    return lsh_bucket(vec)


def ivf_build_centroids(
    emb: DataFrame,
    n_centroids: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """IVF coarse quantizer: k-means with deterministic init (the first
    n_centroids vectors by id) and a fixed iteration count, computed with
    DataFrame aggregations (posexplode → mean per (cluster, dim) — never
    collects vectors beyond the centroid table). Returns the centroid
    list for broadcast."""
    emb = valid_embeddings(emb, vec_col)
    # anchor the dimensionality on the MODAL size across the corpus
    # (one cheap groupBy(size) count), then dim-filter: a ragged vector
    # among the seed rows would otherwise become a ragged centroid and
    # crash every downstream matmul — and anchoring on the lowest-id
    # row is worse: a single dirty low-id row silently dim-filters out
    # the entire real corpus. Ties break toward the larger dim for
    # determinism.
    dim_counts = (
        emb.groupBy(F.size(vec_col).alias("d"))
        .count()
        .orderBy(F.desc("count"), F.desc("d"))
        .first()
    )
    if dim_counts is None:
        raise ValueError("no valid embedding vectors to seed k-means")
    emb = valid_embeddings(emb, vec_col, int(dim_counts["d"]))
    cents = [
        [float(x) for x in r[vec_col]]
        for r in emb.orderBy(id_col).limit(n_centroids).collect()
    ]
    for _ in range(iters):
        assigned = ivf_assign(emb, cents, id_col, vec_col)
        dims = assigned.select(
            "centroid_id", F.posexplode(F.col(vec_col)).alias("dim", "x")
        )
        means = (
            dims.groupBy("centroid_id", "dim")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
            .collect()
        )
        new = {c: list(cents[c]) for c in range(len(cents))}
        for r in means:
            new[r["centroid_id"]][r["dim"]] = r["m"]
        cents = [new[c] for c in range(len(cents))]
    return cents


def _seq_norm(vec: list[float]) -> float:
    """Python twin of sqrt(dot(v, v)): the identical left-to-right IEEE
    double fold the engine-side `dot` performs, so a norm computed here
    is bit-equal to one computed in a Spark expression (both engines'
    cosines therefore stay hash-identical when it is factored out)."""
    import math

    acc = 0.0
    for x in vec:
        acc += float(x) * float(x)
    return math.sqrt(acc)


_LIT_CACHE: dict = {}


def _memo_expr(key: tuple, build_fn) -> Column:
    """Build-once cache for the big literal arrays: one ANN query embeds
    several (corpus + probe sides, 8 PQ codebooks × 2), and building
    them repeatedly costs driver time. Columns wrap immutable unresolved
    JVM expressions, so they are safe to reuse across queries; the cache
    key includes the JVM's identity (via the active SparkContext) so a
    restarted gateway rebuilds instead of dereferencing stale py4j
    handles. `build_fn` returns the Column directly (r12: the builders
    construct CreateArray/CreateNamedStruct trees whose inner vectors
    are COMPACT `F.lit` array literals — one Literal node per vector
    instead of one node per element. The tree stays foldable, so the
    optimizer still collapses it to a single Literal before execution
    exactly as the old parsed-text form did; what changes is the
    driver-side tree size every plan operation re-walks: the 128×64
    centroid array fell from ~9k to ~1.2k nodes, and a single select
    embedding it from ~2.1 s to ~0.25 s)."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    full_key = (id(sc._jsc) if sc is not None else None, *key)
    col = _LIT_CACHE.get(full_key)
    if col is None:
        col = build_fn()
        _LIT_CACHE[full_key] = col
    return col


def _cents_lit(centroids: list[list[float]]) -> Column:
    """Literal array<struct<cell:int, cv:array<double>, cn:double>> of
    the coarse quantizer (cn = centroid norm, precomputed — see
    `_seq_norm`). Scoring happens through a SINGLE `transform` lambda
    over this array — one expression tree evaluated n_centroids times at
    runtime — instead of n_centroids inlined cosine folds, which at 128
    cells made analysis + codegen the dominant cost (~40 s per query).
    Each centroid vector is ONE compact `F.lit` array literal (r12 —
    see _memo_expr: per-element literals made the embedded tree so
    large that every later plan operation on the query paid seconds of
    driver time); the struct/array wrappers stay foldable Column nodes
    so the optimizer still collapses the whole thing to a single
    Literal before execution. F.lit carries the Python float verbatim
    (same nearest-double as the former repr+parseDouble round-trip)."""
    def build() -> Column:
        return F.array(
            *[
                F.struct(
                    F.lit(ci).alias("cell"),
                    F.lit([float(v) for v in cent]).alias("cv"),
                    F.lit(_seq_norm(cent)).alias("cn"),
                )
                for ci, cent in enumerate(centroids)
            ]
        )

    return _memo_expr(
        ("cents", tuple(tuple(c) for c in centroids)), build
    )


def _cell_cosine(vec: Column, vnorm: Column, c: Column) -> Column:
    """cosine(vec, c.cv) with both norms factored out of the per-cell
    lambda: ONE 64-dim fold per cell instead of three (the redundant
    dot(v,v)/dot(cv,cv) folds dominated the interpreted-HOF runtime).
    Bit-identical to `cosine`: same dot fold, same div(dot, mul(a, b))
    op order, norms computed by the same sequential fold."""
    return dot(vec, c["cv"]) / (vnorm * c["cn"])


# Above this k the parse-once centroid literal stops being the right
# vehicle: a 10^5-centroid SemDeDup quantizer (k ≈ √n at 100 TB) would
# be a ~100 MB expression tree evaluated per row by the interpreter.
# Past the cutoff `ivf_assign` switches to an executor-broadcast numpy
# matrix + one Arrow matmul per batch (the d05 banding precedent) —
# same argmax/tie semantics, zero shuffle, centroids shipped once per
# executor instead of once per expression.
CENTROID_LITERAL_MAX = 256


_BCAST_CACHE: dict = {}


_BCAST_CACHE_MAX = 8  # each large quantizer pins ~50 MB on executors


def _centroid_broadcast(sc, centroids: list[list[float]]):
    """One (matrix, norms) broadcast per distinct centroid set per
    SparkContext: the matmul paths exist precisely for LARGE quantizers
    (10⁵×64 float64 ≈ 50 MB), and a fresh broadcast per call would
    accumulate un-reclaimed copies on driver and executors across a
    multi-query session. Keyed by (applicationId, startTime) — a STABLE
    context token, unlike ``id(jvm_object)`` which can be reused after
    GC — so a restarted context re-broadcasts instead of handing out a
    stale handle; entries from a dead context are evicted on sight, and
    the cache is bounded (oldest-inserted unpersisted past
    `_BCAST_CACHE_MAX` distinct centroid sets)."""
    import hashlib

    import numpy as np

    ctx = (sc.applicationId, sc.startTime)
    for key in [k for k in _BCAST_CACHE if k[0] != ctx]:
        # stale context: the broadcast handle is unusable; drop it
        # (its JVM side died with the old context — nothing to unpersist)
        del _BCAST_CACHE[key]
    C = np.asarray(centroids, dtype=np.float64)
    digest = hashlib.md5(C.tobytes() + str(C.shape).encode()).hexdigest()
    key = (ctx, digest)
    bc = _BCAST_CACHE.get(key)
    if bc is None:
        while len(_BCAST_CACHE) >= _BCAST_CACHE_MAX:
            old = _BCAST_CACHE.pop(next(iter(_BCAST_CACHE)))
            try:
                old.unpersist(blocking=False)
            except Exception:  # context races are non-fatal here
                pass
        bc = sc.broadcast((C, np.sqrt((C * C).sum(axis=1))))
        _BCAST_CACHE[key] = bc
    return bc


def _ivf_assign_matmul(
    emb: DataFrame,
    centroids: list[list[float]],
    vec_col: str,
) -> DataFrame:
    """Large-k nearest-centroid assignment: scores = (V @ Cᵀ) /
    (|v|·|c|) for a whole Arrow batch at once; `np.argmax` takes the
    FIRST maximum, i.e. ties go to the smaller cell id exactly like the
    literal path's (cosine, -cell) struct-max. Float64 matmul may
    differ from the sequential fold in the last ulp, so near-exact-tie
    assignments can differ between the two paths — acceptable at the
    scale that forces this path (quantizer cells are arbitrary), and
    the small-k oracle-checked path never takes it."""
    bc = _centroid_broadcast(emb.sparkSession.sparkContext, centroids)

    @F.pandas_udf("int")
    def nearest(vecs: pd.Series) -> pd.Series:
        import numpy as np

        if len(vecs) == 0:
            return pd.Series([], dtype="int32")
        mat, norms = bc.value
        V = _stack_batch(vecs, np)
        vn = np.sqrt((V * V).sum(axis=1))
        scores = (V @ mat.T) / (vn[:, None] * norms[None, :])
        return pd.Series(np.argmax(scores, axis=1).astype("int32"))

    return emb.withColumn("centroid_id", nearest(F.col(vec_col)))


def ivf_assign(
    emb: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid assignment by cosine: transform over the literal
    centroid array, argmax via `array_max` (struct ordering: cosine
    first, then -cell so ties go to the smaller cell id). Above
    CENTROID_LITERAL_MAX centroids the assignment runs as a broadcast
    numpy matmul instead (see `_ivf_assign_matmul`).

    The row norm is materialized as a COLUMN before the lambda — an
    inlined expression would be re-evaluated per array element (Spark's
    subexpression elimination does not cross HOF lambda boundaries; same
    pitfall as tokens() in dedup.shingle_sets)."""
    from .util import ensure_parallelism

    emb = valid_embeddings(emb, vec_col, len(centroids[0]))

    # nearest-centroid scoring is O(k·d) CPU per row — a corpus that
    # arrives as one parquet split would pin a single core for the whole
    # assignment (measured 3.1 s of z23's 3.9 s at sf0.1). Spread it
    # first; no-op when the scan already has enough splits (100 TB case).
    emb = ensure_parallelism(emb)
    if len(centroids) > CENTROID_LITERAL_MAX:
        return _ivf_assign_matmul(emb, centroids, vec_col)
    scored = F.transform(
        _cents_lit(centroids),
        lambda c: F.struct(
            _cell_cosine(F.col(vec_col), F.col("__vnorm"), c).alias("c"),
            (-c["cell"]).alias("negcell"),
        ),
    )
    best = F.array_max(scored)
    return (
        emb.withColumn(
            "__vnorm", F.sqrt(dot(F.col(vec_col), F.col(vec_col)))
        )
        .withColumn("centroid_id", (-best["negcell"]).cast("int"))
        .drop("__vnorm")
    )


def ivf_index(
    emb: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF index build: (n_id, nv, cell) — the cell-partitioned corpus
    `ivf_topk` scans. Build once, persist/write, search many times."""
    return ivf_assign(emb, centroids, id_col, vec_col).select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("nv"),
        F.col("centroid_id").alias("cell"),
    )


def _probe_cells_matmul(sc, centroids: list[list[float]], n_probes: int):
    """Pandas UDF ranking the `n_probes` nearest cells by cosine for a
    whole Arrow batch of query vectors (large-k companion of
    `_ivf_assign_matmul`; returned order = cosine desc, cell asc).
    `sc` is the caller's SparkContext (from its DataFrame's session —
    no reach into SparkContext._active_spark_context)."""
    bcast = _centroid_broadcast(sc, centroids)

    @F.pandas_udf("array<int>")
    def probe(vecs: pd.Series) -> pd.Series:
        import numpy as np

        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        mat, norms = bcast.value
        V = _stack_batch(vecs, np)
        vn = np.sqrt((V * V).sum(axis=1))
        scores = (V @ mat.T) / (vn[:, None] * norms[None, :])
        order = np.argsort(-scores, axis=1, kind="stable")[:, :n_probes]
        return pd.Series(list(order.astype("int32")))

    return probe


def _probe_df(
    queries: DataFrame,
    centroids: list[list[float]],
    n_probes: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(q_id, qv, cell) — each query exploded onto its `n_probes`
    nearest cells (cosine desc, cell asc; see the matmul-path comment
    for the large-k tie discipline)."""
    queries = valid_embeddings(queries, vec_col, len(centroids[0]))
    q = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("qv"))
    if len(centroids) > CENTROID_LITERAL_MAX:
        # same cutoff as ivf_assign: at SemDeDup-scale k the literal
        # probe ranking becomes a 10^5-element interpreted sort per
        # query row — rank cells with one Arrow matmul per batch
        # instead (stable argsort: ties fall to the smaller cell id,
        # matching _best_cell_first's (cosine desc, cell asc) order).
        return q.withColumn(
            "cells",
            _probe_cells_matmul(
                queries.sparkSession.sparkContext, centroids, n_probes
            )(F.col("qv")),
        ).select("q_id", "qv", F.explode("cells").alias("cell"))
    scored_cells = F.transform(
        _cents_lit(centroids),
        lambda c: F.struct(
            cosine(F.col("qv"), c["cv"]).alias("c"),
            c["cell"].alias("cell"),
        ),
    )
    return q.withColumn(
        "cells",
        F.slice(F.array_sort(scored_cells, _best_cell_first), 1, n_probes),
    ).select("q_id", "qv", F.explode("cells.cell").alias("cell"))


def _rank_in_cells(probes: DataFrame, corpus: DataFrame, k: int) -> DataFrame:
    """Exact cosine ranking of each query inside its probed cells."""
    scored = (
        F.broadcast(probes)
        .join(corpus, "cell")
        .filter(F.col("q_id") != F.col("n_id"))
        .withColumn("cos_sim", cosine(F.col("qv"), F.col("nv")))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("n_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "n_id", "cos_sim")
    )


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    n_probes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus: DataFrame | None = None,
) -> DataFrame:
    """IVF search: corpus partitioned by nearest centroid; each query
    probes its `n_probes` closest centroid cells and ranks exactly inside
    them. The join key is the cell id, so at scale each query touches
    ~n_probes/n_centroids of the corpus (same shape as lsh_topk, but the
    cells are data-adaptive). Pass `corpus=` (a prebuilt/persisted
    `ivf_index` result) to search an existing index."""
    if corpus is None:
        corpus = ivf_index(emb, centroids, id_col, vec_col)
    probes = _probe_df(queries, centroids, n_probes, id_col, vec_col)
    return _rank_in_cells(probes, corpus, k)


def _pq_cb_lit(m: int) -> Column:
    """Literal array<struct<k:int, cv:array<double>>> for subspace m of
    PQ_CODEBOOKS — one parsed SQL expression (see _cents_lit for why not
    per-F.lit), parse-once cached like the centroid array."""

    def build() -> Column:
        return F.array(
            *[
                F.struct(
                    F.lit(k).alias("k"),
                    F.lit([float(v) for v in cv]).alias("cv"),
                )
                for k, cv in enumerate(PQ_CODEBOOKS[m])
            ]
        )

    return _memo_expr(("pqcb", m), build)


def _subvec(vec: Column, m: int) -> Column:
    """1-based slice of subspace m (PQ_SUBDIM dims)."""
    return F.slice(vec, m * PQ_SUBDIM + 1, PQ_SUBDIM)


def _subdist(sv: Column, cv: Column) -> Column:
    """Squared L2 between a subvector and a sub-centroid — sequential
    double fold with (x−c)*(x−c), mirrored verbatim in the oracle."""
    return F.aggregate(
        F.zip_with(
            sv, cv, lambda x, c: (x.cast("double") - c) * (x.cast("double") - c)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _score_lambda(sv: Column):
    """Single-arg HOF lambda factory (a 2-arg lambda would be read by
    PySpark as (element, index) — closures must capture, not default-arg)."""
    return lambda c: F.struct(
        _subdist(sv, c["cv"]).alias("d"), c["k"].alias("k")
    )


def _lut_lambda(sv: Column):
    return lambda c: _subdist(sv, c["cv"])


def pq_codes_col(vec: Column) -> Column:
    """array<int> of PQ_M codes: per subspace, the argmin-distance code
    (tie → smaller code id, via struct-ordered array_min)."""
    codes = []
    for m in range(PQ_M):
        scored = F.transform(
            _pq_cb_lit(m), _score_lambda(_subvec(vec, m))
        )
        codes.append(F.array_min(scored)["k"])
    return F.array(*codes)


def pq_lut_col(vec: Column) -> Column:
    """Flattened query lookup table: PQ_M × PQ_K subspace distances,
    laid out [m*PQ_K + k] (0-based), so the ADC fold is a pure
    element_at per subspace."""
    luts = [
        F.transform(_pq_cb_lit(m), _lut_lambda(_subvec(vec, m)))
        for m in range(PQ_M)
    ]
    return F.flatten(F.array(*luts))


def _adc_dist(lut: Column, codes: Column) -> Column:
    """Asymmetric distance: Σ_m lut[m·K + codes[m]] — a sequential fold
    over the M subspaces (codes/lut both 1-based via element_at)."""
    return F.aggregate(
        F.sequence(F.lit(1), F.lit(PQ_M)),
        F.lit(0.0),
        lambda acc, m: acc
        + F.element_at(
            lut, ((m - 1) * PQ_K + F.element_at(codes, m) + 1).cast("int")
        ),
    )


def ivf_pq_index(
    emb: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The IVF-PQ *index build* (FAISS `index.add`, Spark-shaped): one
    pass over the corpus producing (n_id, cell, codes) — the 8-byte code
    table the cell scan reads. Build it once and persist/write it (it is
    an index: in production it lives in the lakehouse next to the
    vectors and is rebuilt only when the corpus changes); `ivf_pq_topk`
    takes it via `corpus=` so per-query cost never includes re-encoding
    the corpus."""
    assigned = ivf_assign(emb, centroids, id_col, vec_col)
    return assigned.select(
        F.col(id_col).alias("n_id"),
        F.col("centroid_id").alias("cell"),
        pq_codes_col(F.col(vec_col)).alias("codes"),
    )


def ivf_pq_topk(
    emb: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    n_probes: int = 4,
    refine: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ ANN (the FAISS IVFPQ architecture, Spark-shaped): the
    cell-scanned corpus side carries ONLY (id, cell, 8 codes) — 8 bytes
    of payload per vector instead of 256 — ranked by asymmetric distance
    inside the probed cells; full vectors are fetched by id for just the
    `refine` best ADC candidates per query, then re-ranked by exact
    cosine. At 100 TB this is the difference between scanning a code
    table that fits in memory and shuffling raw vectors: the equi-joins
    are (cell) for the scan and (id) for the refine fetch — never a
    product, and the big table crosses the wire as codes.

    Pass `corpus=` (a prebuilt `ivf_pq_index` result, typically
    persisted) to search an existing index; omitting it builds the index
    inline, which is only sensible for one-shot jobs."""
    if corpus is None:
        corpus = ivf_pq_index(emb, centroids, id_col, vec_col)
    # same entry contract as _probe_df/lsh_topk: a null or wrong-dim
    # query would otherwise null its centroid cosines yet still probe
    # cells, and Spark ranks null ADC distances FIRST — emitting top-k
    # rows with null cos_sim for a vector that should be dropped
    queries = valid_embeddings(queries, vec_col, len(centroids[0]))
    q = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("qv"))
    scored_cells = F.transform(
        _cents_lit(centroids),
        lambda c: F.struct(
            cosine(F.col("qv"), c["cv"]).alias("c"), c["cell"].alias("cell")
        ),
    )
    probed = q.withColumn(
        "cells",
        F.slice(F.array_sort(scored_cells, _best_cell_first), 1, n_probes),
    ).select("q_id", "qv", F.explode("cells.cell").alias("cell"))
    probes = probed.select(
        "q_id",
        "qv",
        pq_lut_col(F.col("qv")).alias("lut"),
        "cell",
    )
    adc = (
        F.broadcast(probes)
        .join(corpus, "cell")
        .filter(F.col("q_id") != F.col("n_id"))
        .withColumn("adc", _adc_dist(F.col("lut"), F.col("codes")))
    )
    w_adc = Window.partitionBy("q_id").orderBy(F.asc("adc"), F.asc("n_id"))
    cand = (
        adc.withColumn("rn", F.row_number().over(w_adc))
        .filter(F.col("rn") <= refine)
        .select("q_id", "qv", "n_id")
    )
    vecs = emb.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("nv"))
    rescored = cand.join(vecs, "n_id").withColumn(
        "cos_sim", cosine(F.col("qv"), F.col("nv"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("n_id"))
    return (
        rescored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "n_id", "cos_sim")
    )


def _best_cell_first(a: Column, b: Column) -> Column:
    """array_sort comparator: cosine DESC, cell id ASC — best cells
    first with the same deterministic tie order (`ORDER BY cos DESC,
    cell ASC`) the SQL oracle uses, so probe sets match exactly."""
    return F.when(a["c"] > b["c"], -1).when(a["c"] < b["c"], 1).otherwise(
        F.when(a["cell"] < b["cell"], -1).when(a["cell"] > b["cell"], 1).otherwise(0)
    )


def lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probes: int = LSH_PROBES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k with margin-based multi-probe LSH.

    The corpus gets ONE bucket per vector (sign bits of the 9 hyperplane
    margins); each query probes its own bucket plus the `n_probes - 1`
    neighbor buckets reached by flipping the sign bits with the smallest
    |margin| — the planes the query sits closest to, i.e. the flips most
    likely to hold true neighbors (classic multi-probe LSH). Join key is
    the bucket id, so the corpus is hash-partitioned by bucket and never
    replicated; only the tiny broadcast query side fans out ×n_probes.
    Selectivity ≈ n_probes / 2^LSH_PLANES (default 8/512 = 1/64) vs the
    recall of single-probe at 2^LSH_PLANES/n_probes× more buckets.
    Deterministic: margin ties break by plane index on both engines."""
    emb = valid_embeddings(emb, vec_col, EMB_DIM, finite=True)
    queries = valid_embeddings(queries, vec_col, EMB_DIM, finite=True)
    qm = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("qv"),
        *[
            dot(F.col(vec_col), _plane_array(plane)).alias(f"_d{p}")
            for p, plane in enumerate(PLANES)
        ],
    )
    base = sum(
        (
            F.when(F.col(f"_d{p}") > 0, F.lit(1 << p)).otherwise(0)
            for p in range(LSH_PLANES)
        ),
        F.lit(0),
    )
    # (|margin|, plane, bit) sorted ascending: nearest planes first; the
    # bit rides along so the flip is a plain XOR inside the lambda.
    margins = F.array_sort(
        F.array(
            *[
                F.struct(
                    F.abs(F.col(f"_d{p}")).alias("m"),
                    F.lit(p).alias("p"),
                    F.lit(1 << p).alias("b"),
                )
                for p in range(LSH_PLANES)
            ]
        )
    )
    q = (
        qm.withColumn("_base", base)
        .withColumn(
            "bucket",
            F.explode(
                F.concat(
                    F.array(F.col("_base")),
                    F.transform(
                        F.slice(margins, 1, n_probes - 1),
                        lambda s: F.col("_base").bitwiseXOR(s["b"]),
                    ),
                )
            ),
        )
        .select("q_id", "qv", "bucket")
    )
    c = emb.select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("nv"),
        # corpus side is the big scan → Arrow-batched bucket; the query
        # side keeps the HOF margins (it needs the VALUES for probe
        # ordering, and it is |queries|-sized). coalesce(-1): the join's
        # injected isnotnull(bucket) otherwise splits the UDF into TWO
        # ArrowEvalPython nodes (one for the filter, one for the output)
        # — a provably-true null screen the optimizer then removes.
        # -1 is outside the 0..2^LSH_PLANES-1 query-bucket range, so a
        # hypothetical null row still never matches.
        F.coalesce(
            _bucket_vectorized(F.col(vec_col)), F.lit(-1)
        ).alias("bucket"),
    )
    scored = (
        F.broadcast(q)
        .join(c, "bucket")
        .filter(F.col("q_id") != F.col("n_id"))
        .withColumn("cos_sim", cosine(F.col("qv"), F.col("nv")))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("n_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "n_id", "cos_sim")
    )


def embedding_centroid_stats(
    emb: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    scale: int = 10**6,
) -> DataFrame:
    """Per-class centroid SUFFICIENT STATISTICS → (label, dim, n, sx):
    exact integer numerators sx = Σ ⌊scale · xᵢ[dim]⌋ with the count n,
    so centroid[dim] = sx / (n·scale) to 1/scale precision — computed
    as ORDER-INDEPENDENT integer sums (a float sum's value depends on
    reduction order across partitions; the floor-scaled integers make
    the reduction commutative and engine-exact). The class-prototype
    builder for SemDeDup seeding / embedding-drift monitoring.

    Each float is widened to double BEFORE scaling (float32→double is
    exact; multiplying in float32 would round differently than an
    engine that multiplies in double). One posexplode + one hash-agg
    (map-side combined); output is |labels|·dim rows. sx accumulates in
    DECIMAL(38,0) — int64 would overflow past ~10¹² rows·scale."""
    emb = valid_embeddings(emb, vec_col, finite=True)
    return (
        emb.select(
            F.col(label_col).alias("label"),
            F.posexplode(F.col(vec_col)).alias("dim", "__e"),
        )
        .select(
            "label",
            "dim",
            F.floor(F.col("__e").cast("double") * F.lit(scale))
            .cast("decimal(38,0)")
            .alias("__x"),
        )
        .groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("__x").cast("decimal(38,0)").alias("sx"),
        )
    )


GRAM_SCHEMA = "i int, j int, n long, gram long, sum_i long, sum_j long"


def embedding_gram_stats(
    emb: DataFrame,
    vec_col: str = "embedding",
    scale: int = 10**6,
    dim: int | None = None,
) -> DataFrame:
    """Covariance/whitening sufficient statistics for PCA / whitening /
    ZCA over an embedding column: the upper-triangle Gram matrix
    Σ qᵢqⱼ plus per-dim sums, with vectors quantized to integers
    (floor(x·scale + ½)) so the sums are order-independent and exact —
    the same trick `embedding_centroid_stats` uses, extended to second
    moments. Covariance falls out driver-side: cov[i,j] =
    (gram − sum_i·sum_j/n)/n (÷scale²).

    Spark-first shape: `mapInPandas` computes one d×d numpy Gram matrix
    per Arrow batch (QᵀQ — a single integer matmul, no per-element
    explode: the d²-row blow-up never exists at row scale), emits
    d(d+1)/2 partial rows per batch, and a final hash-agg over the
    (i, j) key — d(d+1)/2 groups — sums partials. Shuffle volume is
    O(batches · d²), INDEPENDENT of row count; at 100 TB this is
    the canonical tree-aggregate shape. Per-BATCH gram fits int64
    (|q| ≤ scale → one product ≤ scale² = 10¹², Arrow batches ≤ 10⁴
    rows → ≤ 10¹⁶); the FINAL agg accumulates in DECIMAL(38,0), where
    int64 would overflow past ~9·10⁶ rows.

    Pass `dim` on corpora that may carry ragged vectors: the partial
    Gram is computed per Arrow batch, so a wrong-dim vector that lands
    alone in a batch would otherwise contribute a partial of the WRONG
    shape and silently skew the (i, j) sums it overlaps (mixed dims
    INSIDE one batch fail loudly via _stack_batch either way)."""
    import pandas as pd

    emb = valid_embeddings(emb, vec_col, dim, finite=True)

    def _partial(batches):
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            X = _stack_batch(pdf[vec_col], np)
            Q = np.floor(X * scale + 0.5).astype(np.int64)
            d = Q.shape[1]
            G = Q.T @ Q
            s = Q.sum(axis=0)
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame(
                {
                    "i": iu.astype("int32"),
                    "j": ju.astype("int32"),
                    "n": np.full(len(iu), len(Q), dtype="int64"),
                    "gram": G[iu, ju],
                    "sum_i": s[iu],
                    "sum_j": s[ju],
                }
            )

    partials = emb.select(vec_col).mapInPandas(_partial, GRAM_SCHEMA)
    return partials.groupBy("i", "j").agg(
        F.sum("n").alias("n"),
        F.sum(F.col("gram").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("gram"),
        F.sum("sum_i").alias("sum_i"),
        F.sum("sum_j").alias("sum_j"),
    )


def embedding_quant_stats(
    emb: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    scale: int = 10**6,
    levels: int = 255,
) -> DataFrame:
    """Per-dimension int8 quantization statistics for vector-index
    compression (the scalar-quantization prep every large ANN index
    does before PQ/IVF storage): per-dim min/max → (scale, zero-point),
    plus the exact total and max absolute reconstruction error of the
    round-trip code = ⌊(v−min)·levels / (max−min)⌋, recon = min +
    ⌊code·(max−min)/levels⌋.

    Everything runs on integer-quantized values (⌊x·scale+½⌋, the
    repo-wide exactness trick) so both passes are engine-exact integer
    arithmetic — all intermediate divisions have non-negative operands,
    where floor and truncate agree across engines.

    Scale shape: two posexplode → hash-agg passes. The explode is a
    LOCAL Generate feeding a partial aggregate — per-dim min/max (then
    sum/max of errors) collapse to d groups map-side BEFORE any
    exchange, so shuffle volume is O(partitions · d) regardless of row
    count; the d-row stats table is broadcast back onto pass 2. (A
    previous wide-column variant — 2d min/max aggregates + d error
    expressions, no explode — had the same shuffle bound but paid ~6 s
    of optimizer + Janino compilation for the 192-column codegen on
    EVERY fresh plan; the narrow shape plans in milliseconds.)"""
    emb = valid_embeddings(emb, vec_col, dim, finite=True)
    qv = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * scale + F.lit(0.5)).cast(
            "long"
        ),
    )
    per = emb.select(F.posexplode(qv).alias("dim", "v"))

    stats = per.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("v").alias("min_q"),
        F.max("v").alias("max_q"),
    )

    lv = F.lit(levels).cast("long")
    mn, mx, v = F.col("min_q"), F.col("max_q"), F.col("v")
    den = F.greatest(mx - mn, F.lit(1).cast("long"))
    num = (v - mn) * lv
    # integer ⌊num/den⌋ via subtract-the-remainder: operands stay
    # ≤ levels·(2·scale) ≈ 5·10⁸, exact in the double division
    code = ((num - num % den) / den).cast("long")
    back = code * den
    rec = mn + ((back - back % lv) / lv).cast("long")

    err = per.join(F.broadcast(stats), "dim").select(
        "dim", F.abs(v - rec).alias("e")
    )
    return (
        err.groupBy("dim")
        .agg(
            F.sum("e").alias("sum_abs_err"),
            F.max("e").alias("max_abs_err"),
        )
        .join(F.broadcast(stats), "dim")
        .select(
            F.col("dim").cast("long").alias("dim"),
            "n",
            "min_q",
            "max_q",
            "sum_abs_err",
            "max_abs_err",
        )
    )


def hard_negatives(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: for each
    query vector, the top-k most-similar corpus vectors whose LABEL
    differs (the highest-loss negatives a trainer wants in the batch).
    Same deterministic contract as `brute_force_topk` (cos desc, id asc;
    the label filter excludes self-matches for free since a row shares
    its own label).

    Scale shape: the query side is broadcast (queries are a bounded
    working set by construction); the label filter prunes BEFORE the
    per-query rank so only cross-label pairs are scored and ranked. For
    corpus-scale query sets, swap the broadcast product for the IVF
    probe path (`ivf_topk`) and apply the same label filter on the cell
    scan — the filter composes with any candidate generator."""
    emb = valid_embeddings(emb, vec_col)
    queries = valid_embeddings(queries, vec_col)
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("qv"),
        F.col(label_col).alias("q_label"),
    )
    c = emb.select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("nv"),
        F.col(label_col).alias("n_label"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("q_label") != F.col("n_label"))
        .filter(F.size("qv") == F.size("nv"))
        .withColumn("cos_sim", cosine(F.col("qv"), F.col("nv")))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("n_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "n_id", "cos_sim")
    )
