"""Transaction-graph construction (SURVEY §2.5 P2, Q19;
TxGraphWriter.scala:28-74).

Vertices are transactions and addresses (tree hashes); edges carry summed
ERG per (tx, address) pair, in both directions. The reference filters
dust (< 1 ERG) and blacklisted protocol addresses before writing to
JanusGraph; the Spark tables are GraphFrames-compatible (`vertices(id,
kind)`, `edges(src, dst, value)`), and traversals are iterative joins
(`two_hop_neighbors`)."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..constants import EMISSION_TREE, FEE_TREE
from . import sizing
from .util import local_frame

NANO = 1_000_000_000
DUST_THRESHOLD = NANO  # skip < 1 ERG edges (TxGraphWriter.scala:44)
PROTOCOL_TREES = (FEE_TREE, EMISSION_TREE)


def graph_edges(
    boxes_main: DataFrame, inputs_main: DataFrame
) -> DataFrame:
    """Edges: address →(value)→ tx for inputs, tx →(value)→ address for
    outputs. Input values/trees come from joining inputs to the boxes
    they spend (the reference reads them from the UTXO cache)."""
    spent = inputs_main.select("tx_id", "box_id").join(
        boxes_main.select(
            "box_id",
            F.col("ergo_tree").alias("tree"),
            F.col("ergo_tree_hash").alias("tree_hash"),
            "value",
        ),
        "box_id",
    )
    from_edges = (
        spent.filter(~F.col("tree").isin(*PROTOCOL_TREES))
        .groupBy("tx_id", "tree_hash")
        .agg(F.sum("value").alias("value"))
        .filter(F.col("value") >= DUST_THRESHOLD)
        .select(
            F.col("tree_hash").alias("src"),
            F.col("tx_id").alias("dst"),
            "value",
            F.lit("in").alias("direction"),
        )
    )
    to_edges = (
        boxes_main.filter(~F.col("ergo_tree").isin(*PROTOCOL_TREES))
        .groupBy("tx_id", "ergo_tree_hash")
        .agg(F.sum("value").alias("value"))
        .filter(F.col("value") >= DUST_THRESHOLD)
        .select(
            F.col("tx_id").alias("src"),
            F.col("ergo_tree_hash").alias("dst"),
            "value",
            F.lit("out").alias("direction"),
        )
    )
    return from_edges.unionByName(to_edges)


def graph_vertices(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )


def _arrow_id_type(t):
    """The Spark type an id column of type `t` crosses into a one-task
    kernel as: integral ids widen to long (lossless), strings pass
    through, and None for any other type."""
    from pyspark.sql import types as T

    if isinstance(t, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return T.LongType()
    if isinstance(t, T.StringType):
        return t
    return None


def _arrow_ids(e: DataFrame):
    """Spark side of the one Arrow ingest shared by every one-task graph
    kernel: each id column of `e` is cast to its `_arrow_id_type`.
    Returns (frame, restore), where `restore(df, cols)` casts the named
    output columns back to the first column's type (a no-op unless it
    was a narrow int), or (None, None) when some column has another id
    type and the caller stays on its distributed path."""
    types = [e.schema[c].dataType for c in e.columns]
    wide = [_arrow_id_type(t) for t in types]
    if None in wide:
        return None, None
    if wide != types:
        e = e.select(
            *[F.col(c).cast(w).alias(c) for c, w in zip(e.columns, wide)]
        )
    t0, w0 = types[0], wide[0]

    def restore(df: DataFrame, cols: list) -> DataFrame:
        if t0 == w0:
            return df
        return df.select(
            *[
                F.col(c).cast(t0).alias(c) if c in cols else c
                for c in df.columns
            ]
        )

    return e, restore


def _encode_ids(*cols):
    """Task side of the one Arrow ingest: Arrow id columns (int64 or
    string, one shared id space) → ([codes per column], uniques). Codes
    are int64 in VALUE order, −1 for null; `uniques` holds the distinct
    non-null values sorted, as an Arrow array of the input type, so
    `_decode_ids` rebuilds output columns with no cast. One hash pass
    (`dictionary_encode`), then a sort of the dictionary only — not of
    every row, as `np.unique(return_inverse)` would: numeric for
    integers, bytewise for strings (the order Spark compares strings
    in), so a min/`<` over codes is the min/`<` Spark computes over
    values."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    arr = pa.chunked_array(
        [ch for c in cols for ch in c.chunks], type=cols[0].type
    ).combine_chunks()
    enc = pc.dictionary_encode(arr)
    order = pc.sort_indices(enc.dictionary).to_numpy()
    rank = np.empty(len(order), dtype=np.int64)
    rank[order] = np.arange(len(order))
    codes = np.full(len(arr), -1, dtype=np.int64)
    codes[arr.is_valid().to_numpy(zero_copy_only=False)] = rank[
        pc.drop_null(enc.indices).to_numpy()
    ]
    bounds = np.cumsum([len(c) for c in cols])[:-1]
    return np.split(codes, bounds), enc.dictionary.take(order)


def _decode_ids(uniques, codes):
    """Codes (−1 for null) → an Arrow array of `uniques`' type."""
    import pyarrow as pa

    return uniques.take(pa.array(codes, type=pa.int64(), mask=codes < 0))


def _k_hop_local_arrow(e: DataFrame, start_ids: list, k: int) -> DataFrame:
    """Small-graph execution of `k_hop_neighbors`: the whole BFS in ONE
    Arrow task over the (already symmetrized) edge table, ids encoded
    by `_encode_ids`. Exactly equal to the distributed loop, property-
    pinned, including its null-key quirks: a null dst enters the output
    at EVERY level some frontier node reaches one (the visited
    anti-join can never match a null key, so null is re-admitted per
    level — one row per level, the per-level distinct), a null src
    never matches the frontier join, and duplicate/null start ids pass
    through at level 0 exactly as given (the distributed seed frame
    keeps them).

    Hop-0 rows are emitted DRIVER-SIDE (a literal seed frame unioned
    below the kernel), not from inside the kernel: if the persisted
    edge DataFrame ever reaches this with ZERO partitions (e.g. built
    from an empty RDD) the function body is never invoked, and seeds
    must not depend on it running."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    id_t = e.schema["src"].dataType.simpleString()
    schema = f"id {id_t}, hops int"
    seeds = local_frame(e.sparkSession, [(s, 0) for s in start_ids], schema)
    start_vals = [s for s in start_ids if s is not None]

    def run(batches):
        bl = list(batches)
        if not bl:
            return
        t = pa.Table.from_batches(bl)
        (s, d), uniques = _encode_ids(t.column("src"), t.column("dst"))
        keep = s >= 0  # a null src never equi-matches the frontier
        s, d = s[keep], d[keep]
        starts = pc.index_in(
            pa.array(start_vals, uniques.type), value_set=uniques
        )
        frontier = np.unique(pc.drop_null(starts).to_numpy().astype(np.int64))
        visited = np.zeros(len(uniques), dtype=bool)
        visited[frontier] = True
        out_codes = [np.empty(0, dtype=np.int64)]
        out_hops = [np.empty(0, dtype=np.int32)]
        for level in range(1, k + 1):
            dsts = d[np.isin(s, frontier)]
            null_seen = bool((dsts < 0).any())
            nxt = np.unique(dsts[dsts >= 0])
            fresh = nxt[~visited[nxt]]
            visited[fresh] = True
            fresh_out = np.append(fresh, -1) if null_seen else fresh
            out_codes.append(fresh_out)
            out_hops.append(np.full(len(fresh_out), level, dtype=np.int32))
            frontier = fresh
            if len(fresh_out) == 0:
                break
        yield pa.RecordBatch.from_pydict(
            {
                "id": _decode_ids(uniques, np.concatenate(out_codes)),
                "hops": pa.array(np.concatenate(out_hops), pa.int32()),
            }
        )

    return seeds.unionByName(e.coalesce(1).mapInArrow(run, schema))


def k_hop_neighbors(
    edges: DataFrame,
    start_ids: "list | DataFrame",
    k: int,
    directed: bool = True,
    num_partitions: int | None = None,
    broadcast_frontier_max_rows: int = 4_000_000,
) -> DataFrame:
    """General bounded traversal (the Gremlin `repeat(out()).times(k)`
    family behind Q19's endpoint — StreamExecutor.scala:37-41): BFS
    min-hop labels from `start_ids` out to `k` hops.

    Distributed shape: the driver loop runs exactly `k` times (O(k),
    never O(data)); each level is one hash equi-join frontier⋈edges on
    `src` plus one anti-join against the visited set — no collect of
    data rows, no cartesian. The frontier is materialized (persist +
    count) every level, which buys three things at once: an exact
    auto-gate for the join strategy — the frontier side is BROADCAST
    while its counted size stays under `broadcast_frontier_max_rows`
    (a seed-bounded BFS frontier is usually tiny next to the edge
    table, and broadcasting it removes the per-level shuffle of the
    big side entirely — measured 8.8 s → 4.0 s on the sf0.1 tripartite
    graph), with an automatic demotion to the shuffled hash join the
    moment a level explodes past the gate; an empty-frontier EARLY
    EXIT (a converged BFS stops paying for remaining levels); and
    eager lineage truncation (each level's plan starts from a cached
    leaf, so plan depth stays O(1) in k, with a localCheckpoint every
    few levels bounding the unioned `visited` side too). The edge
    table is projected, optionally symmetrized, pre-partitioned by
    `src` and persisted ONCE — so the shuffled fallback path reuses
    the same join layout every level instead of re-exchanging the big
    side. Returns (id, hops) with hops = BFS level = minimum hop
    distance.

    Small-graph tier: when the materialized edge table fits
    `sizing.one_task_ok`, the whole BFS runs in ONE Arrow task
    (`_k_hop_local_arrow` — the pagerank posture; per-level scheduled
    jobs dominate tiny-graph cost). Bit-exact against the distributed
    loop, property-pinned.

    `start_ids` may be a SEED FRAME (a one-column DataFrame) instead
    of a Python list (r11 VERDICT #8): at 100 TB a large seed set —
    "every box touched by these addresses", itself a query result —
    must not ship through the driver as a literal list (the plan
    alone would be megabytes and the driver a copy bottleneck). The
    frame becomes the level-0 visited/frontier directly; seeds are
    deduplicated (a frame is a SET of seeds — the list form's
    duplicate-passthrough is an interactive-path nicety that has no
    distributed meaning) and the traversal always runs the
    distributed loop (a caller holding a seed FRAME is by definition
    at the scale the one-task tier's gate refuses; the list form
    keeps the local tier for the interactive path)."""
    spark = edges.sparkSession
    from pyspark.sql import types as T

    seed_frame = isinstance(start_ids, DataFrame)
    n = num_partitions or spark.sparkContext.defaultParallelism
    e = edges.select("src", "dst")
    if not directed:
        e = e.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    # The edge table is persisted UNPARTITIONED first: while the frontier
    # side stays under the broadcast gate (the common case for a
    # seed-bounded BFS), every level is a broadcast hash join that scans
    # the cached edge partitions in place — a pre-repartition by src
    # would be a full shuffle of the big side bought for nothing
    # (measured ~0.9 s of the 7 s g02 time at sf0.1). The src-hash
    # layout is built lazily, ONCE, the first time a level actually
    # demotes to the shuffled join — from the cached copy, not the
    # source scan — and reused by every subsequent shuffled level.
    e = e.persist()
    use_local = False
    if not seed_frame and not e.isStreaming:
        e.count()  # materialize: real size for the tier gate (and the
        # cache every level-1 consumer reads anyway)
        use_local = sizing.one_task_ok(e)
    if use_local:
        e2, restore = _arrow_ids(e)
        if e2 is not None:
            out = _k_hop_local_arrow(e2, list(start_ids), k).localCheckpoint(
                eager=True
            )
            e.unpersist(blocking=False)
            return restore(out, ["id"])
        # exotic id types: fall through to the distributed loop
    e_part: DataFrame | None = None
    schema = T.StructType(
        [
            T.StructField("id", edges.schema["src"].dataType),
            T.StructField("hops", T.IntegerType()),
        ]
    )
    if seed_frame:
        visited = (
            start_ids.select(
                F.col(start_ids.columns[0])
                .cast(edges.schema["src"].dataType)
                .alias("id")
            )
            .distinct()
            .withColumn("hops", F.lit(0).cast("int"))
        )
        frontier = visited.persist()
        f_rows = frontier.count()
    else:
        visited = local_frame(spark, [(s, 0) for s in start_ids], schema)
        frontier = visited.persist()
        f_rows = len(start_ids)
    v_rows = f_rows  # exact visited size (sum of counted levels)
    retired: list[DataFrame] = []
    for level in range(1, k + 1):
        small_frontier = f_rows <= broadcast_frontier_max_rows
        fr = F.broadcast(frontier) if small_frontier else frontier
        if not small_frontier and e_part is None:
            e_part = e.repartition(n, "src").persist()
        side = e if small_frontier else e_part
        # The visited side of the anti-join is broadcast while its
        # EXACT size (every level is counted anyway) stays under the
        # same gate: without this, the growing visited accumulator is
        # re-shuffled every single level. The frontier distinct still
        # runs as a plain distinct (NOT repartition-then-distinct): the
        # partial aggregation BEFORE the exchange dedupes the join
        # fan-out map-side — at a dense level the dst stream is
        # ~avg-degree× larger than its distinct set — and with a
        # broadcast visited the anti-join then adds NO exchange at all.
        seen = (
            F.broadcast(visited)
            if v_rows <= broadcast_frontier_max_rows
            else visited
        )
        nxt = (
            side.join(fr, fr["id"] == side["src"])
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(seen, "id", "left_anti")
            .withColumn("hops", F.lit(level))
            .persist()
        )
        f_rows = nxt.count()  # materialize: gate signal + early exit
        v_rows += f_rows
        visited = visited.unionByName(nxt)
        # the previous frontier's dependents are materialized now
        retired.append(frontier)
        if len(retired) > 2:
            retired.pop(0).unpersist(blocking=False)
        if f_rows == 0:
            frontier = nxt
            break  # converged: every remaining level would be empty
        if level % 4 == 0 and level < k:
            # truncate the lineage of BOTH accumulators: each level's
            # plan references the previous nxt TWICE (via frontier and
            # via visited's union), so without this the logical plan
            # doubles per level — at k=10 the 2^k tree blows the driver
            # heap just BUILDING plan strings. nxt is already cached and
            # counted, so the checkpoint itself is cheap.
            visited = visited.localCheckpoint(eager=False)
            nxt = nxt.localCheckpoint(eager=False)
        frontier = nxt
    e.unpersist(blocking=False)
    if e_part is not None:
        e_part.unpersist(blocking=False)
    return visited


def co_spend_pairs(edges: DataFrame) -> DataFrame:
    """Wedge motif a→tx←b: pairs of addresses funding the SAME
    transaction (the tx-graph co-spend heuristic used for wallet
    clustering). Bucketed self-join on the shared tx id — candidate
    volume is Σ|inputs per tx|², never an all-pairs product. Returns
    (addr_a, addr_b, n_txs) with addr_a < addr_b."""
    ins = edges.filter(F.col("direction") == "in").select(
        F.col("src").alias("addr"), F.col("dst").alias("tx_id")
    )
    a, b = ins.alias("a"), ins.alias("b")
    return (
        a.join(
            b,
            (F.col("a.tx_id") == F.col("b.tx_id"))
            & (F.col("a.addr") < F.col("b.addr")),
        )
        .groupBy(
            F.col("a.addr").alias("addr_a"), F.col("b.addr").alias("addr_b")
        )
        .agg(F.count(F.lit(1)).alias("n_txs"))
    )


_MOTIF_TERM = re.compile(
    r"^(?P<neg>!)?\((?P<a>\w*)\)-\[(?P<e>\w*)\]->\((?P<b>\w*)\)$"
)


def _order_motif_terms(
    term_names: list[set], sizes: list[int | None]
) -> list[int]:
    """Greedy cost-ordered chaining for positive motif terms: start at
    the smallest estimated term, then repeatedly take the connectable
    term that binds the most already-bound vertices (tighter equi-join),
    smallest size then registration index as tiebreaks. A term that
    never becomes connectable is emitted anyway so the caller can raise
    the disconnected-pattern error at its index."""
    inf = float("inf")

    def size_of(i: int):
        return inf if sizes[i] is None else sizes[i]

    n = len(term_names)
    order = [min(range(n), key=lambda i: (size_of(i), i))]
    bound = set(term_names[order[0]])
    pending = [i for i in range(n) if i != order[0]]
    while pending:
        conn = [i for i in pending if term_names[i] & bound]
        if not conn:
            nxt = pending[0]
        else:
            nxt = min(
                conn,
                key=lambda i: (-len(term_names[i] & bound), size_of(i), i),
            )
        order.append(nxt)
        bound |= term_names[nxt]
        pending.remove(nxt)
    return order


def motif_find(edges: DataFrame, pattern: str, reduce: bool = False) -> DataFrame:
    """GraphFrames-style motif search (the general form of Q19's Gremlin
    traversals, StreamExecutor.scala:37-41): a pattern of edge terms
    `(a)-[e]->(b)` separated by `;`, with anonymous vertices `()` /
    edges `-[]->` and negated terms `!(a)-[]->(b)`.

        motif_find(edges, "(a)-[e1]->(t); (t)-[e2]->(b); !(b)-[]->(a)")

    Returns one row per binding: a column per NAMED vertex (its id) and
    per NAMED edge (struct of the full edge row). Semantics follow
    GraphFrames `find`: vertices are not required to be distinct (add
    `a != b` filters yourself), anonymous elements are not returned,
    and negated terms may not name an edge.

    Plan shape: each positive term is one aliased scan of `edges`,
    chained with hash equi-joins on the shared vertex columns — never a
    cartesian (disconnected patterns are rejected rather than silently
    exploding); each negated term is one anti-join on its two bound
    vertices. At cluster scale every join key is a vertex id, so AQE
    skew-split handles supernodes and the edge table's partitioning is
    reused across terms.

    Join order (round-5): positive terms chain greedily by estimated
    cost instead of registration order — start from the term with the
    smallest Catalyst size estimate, then repeatedly take the
    connectable term binding the MOST already-bound vertices (a 2-key
    join is tighter than a 1-key join) with the smallest estimate as
    tiebreak; negations stay last. Registration order remains the final
    tiebreak, so equal-cost patterns keep their old plans.
    """
    terms = [t.strip() for t in pattern.split(";") if t.strip()]
    pos: list[tuple[str, str, str]] = []
    neg: list[tuple[str, str]] = []
    for t in terms:
        m = _MOTIF_TERM.match(t.replace(" ", ""))
        if not m:
            raise ValueError(f"bad motif term: {t!r}")
        if m["neg"]:
            if m["e"]:
                raise ValueError(f"negated term cannot name an edge: {t!r}")
            if not (m["a"] and m["b"]):
                raise ValueError(
                    f"negated term needs both vertices named: {t!r}"
                )
            neg.append((m["a"], m["b"]))
        else:
            pos.append((m["a"], m["e"], m["b"]))
    if not pos:
        raise ValueError("motif needs at least one positive term")

    all_vertices = {n for a, _, b in pos for n in (a, b) if n}
    edge_names = [e for _, e, _ in pos if e]
    if len(edge_names) != len(set(edge_names)):
        raise ValueError("edge names must be unique across the pattern")
    if set(edge_names) & all_vertices:
        raise ValueError("edge names must not collide with vertex names")

    edge_struct = F.struct(*[F.col(c) for c in edges.columns])

    def term_df(i: int, a: str, e: str, b: str) -> DataFrame:
        src = edges
        if a and a == b:  # self-loop term: one column, equality filter
            src = src.filter(F.col("src") == F.col("dst"))
        cols = []
        if a:
            cols.append(F.col("src").alias(a))
        if b and b != a:
            cols.append(F.col("dst").alias(b))
        if e:
            cols.append(edge_struct.alias(e))
        if not cols:  # fully anonymous term still constrains existence
            cols.append(F.lit(1).alias(f"__any{i}"))
        return src.select(*cols)

    tdfs = [term_df(i, a, e, b) for i, (a, e, b) in enumerate(pos)]
    sizes = [sizing.plan_bytes(t) for t in tdfs]
    term_names = [{n for n in (a, b) if n} for a, _, b in pos]
    order = _order_motif_terms(term_names, sizes)

    # Broadcast the joining term sides when the WHOLE materialized edge
    # table fits the broadcast threshold (every term projects a subset
    # of it): a checkpointed edge table (z01 pins its derived graph)
    # otherwise chains SortMergeJoins even at a few MB. An unpinned edge
    # table gets no hint; the planner and AQE size it themselves.
    small = sizing.broadcast_ok(edges)

    def maybe_b(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small else df

    if reduce and len(tdfs) > 1:
        # Yannakakis semi-join reduction: before the join chain, drop
        # every term row whose shared-vertex values have no partner in
        # an overlapping term — semi-joins only remove dangling rows, so
        # the result set is IDENTICAL (invariance-tested) while the
        # chain's intermediates shrink. One forward + one backward pass
        # over the cost order fully reduces acyclic patterns (the
        # classic guarantee) and soundly partially reduces cyclic ones —
        # worth it when terms are selective (a filtered edge relation),
        # off by default since each pass adds |terms|² semi-joins.
        for seq in (order, list(reversed(order))):
            for j in seq:
                for i in seq:
                    if i == j:
                        continue
                    shared = sorted(term_names[i] & term_names[j])
                    if shared:
                        tdfs[j] = tdfs[j].join(
                            tdfs[i].select(*shared), shared, "left_semi"
                        )

    start = order[0]
    out = tdfs[start]
    bound = set(term_names[start])
    for i in order[1:]:
        shared = sorted(term_names[i] & bound)
        if not shared:
            raise ValueError(
                "disconnected motif pattern (would be a cross join): "
                f"term {i} shares no vertex with the rest"
            )
        out = out.join(maybe_b(tdfs[i]), shared)
        bound |= term_names[i]
    for a, b in neg:
        if not {a, b} <= bound:
            raise ValueError(
                f"negated term !({a})-[]->({b}) uses unbound vertices"
            )
        out = out.join(
            maybe_b(
                edges.select(F.col("src").alias(a), F.col("dst").alias(b))
            ),
            [a, b],
            "left_anti",
        )
    drop = [c for c in out.columns if c.startswith("__any")]
    return out.drop(*drop) if drop else out


def two_hop_neighbors(edges: DataFrame, address_hash: str) -> DataFrame:
    """Q19-style traversal without a graph engine: addresses reachable
    through one transaction hop (addr → tx → addr)."""
    first = edges.filter(
        (F.col("src") == address_hash) & (F.col("direction") == "in")
    ).select(F.col("dst").alias("tx_id"))
    second = edges.filter(F.col("direction") == "out").select(
        F.col("src").alias("tx_id"), F.col("dst").alias("neighbor")
    )
    return (
        first.join(second, "tx_id")
        .filter(F.col("neighbor") != address_hash)
        .select("neighbor")
        .distinct()
    )


def _pagerank_local_arrow(
    e: DataFrame,
    iters: int,
    base: int,
    damp_num: int,
    damp_den: int,
    init: int,
    dangling: bool,
    early_stop: bool,
) -> DataFrame:
    """The small-graph execution of `pagerank_int`: the WHOLE iteration
    loop in ONE Arrow task over the single-partition distinct edge
    table, ids encoded by `_encode_ids`. Gated by the same
    materialized-size check as the other one-task tiers, so the driver
    schedules ONE job instead of one scheduled action per checkpoint
    span (each ~0.4 s of fixed latency on local mode, SCALE.md
    iterative-graph section: at sf0.1 the per-round window + Δ-probe
    machinery was 2 s of pure scheduling on a 1,100-node graph). At
    scale the gate never trips and the distributed loop runs unchanged.

    Bit-exact against the distributed loop (property-pinned),
    including its null-key semantics: a NULL src/dst is a real node in
    the fused node dimension (groupBy keeps the null group) whose edges
    never match the per-round equi-join — null-src edges emit nothing,
    null-dst receipts are lost, the null node itself earns base + share
    each round. Integer ops are int64 with python-// semantics (≡ SQL
    `div` on the non-negative ranks). Early stop is checked every round
    — stopping at the exact fixpoint returns the same vector as any
    check cadence, which is what keeps the fixed-round oracle valid."""
    import numpy as np
    import pyarrow as pa

    out_fields = e.schema["src"].dataType.simpleString()
    schema = f"id {out_fields}, rank long"

    def run(batches):
        bl = list(batches)
        if not bl:
            return
        t = pa.Table.from_batches(bl)
        if t.num_rows == 0:
            return
        (s_idx, d_idx), uniques = _encode_ids(t.column("src"), t.column("dst"))
        n_real = len(uniques)
        has_null = bool((s_idx < 0).any() or (d_idx < 0).any())
        # the null node takes the slot after every real node
        s_idx = np.where(s_idx < 0, n_real, s_idx)
        d_idx = np.where(d_idx < 0, n_real, d_idx)
        n = n_real + (1 if has_null else 0)
        outdeg = np.bincount(s_idx, minlength=n).astype(np.int64)
        # contributions flow only through edges the distributed
        # equi-joins would match: non-null src AND non-null dst
        flows = (s_idx != n_real) & (d_idx != n_real)
        fs, fd = s_idx[flows], d_idx[flows]
        rank = np.full(n, int(init), dtype=np.int64)
        dang = outdeg == 0
        for _ in range(iters):
            contrib = damp_num * rank[fs] // damp_den // outdeg[fs]
            acc = np.zeros(n, dtype=np.int64)
            np.add.at(acc, fd, contrib)
            share = 0
            if dangling:
                d_mass = int(rank[dang].sum())
                share = damp_num * d_mass // damp_den // n
            new_rank = base + share + acc
            if early_stop and int(np.abs(new_rank - rank).sum()) == 0:
                rank = new_rank
                break
            rank = new_rank
        ids = np.arange(n, dtype=np.int64)
        ids[n_real:] = -1
        yield pa.RecordBatch.from_pydict(
            {
                "id": _decode_ids(uniques, ids),
                "rank": pa.array(rank, pa.int64()),
            }
        )

    return e.coalesce(1).mapInArrow(run, schema)


def pagerank_int(
    edges: DataFrame,
    iters: int = 6,
    base: int = 150_000,
    damp_num: int = 85,
    damp_den: int = 100,
    init: int = 1_000_000,
    broadcast_tables: bool | None = None,
    checkpoint_every: int = 3,
    dangling: bool = False,
    early_stop: bool = False,
    convergence_check_every: int = 1,
    stats: dict | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank in INTEGER arithmetic → (id, rank).

    Rank is carried in integer micro-units; each iteration a node emits
    `damp · rank div outdeg` (integer division) along every out-edge and
    every node restarts from `base`: rank' = base + Σ incoming. Because
    every operation is exact int64, the result is bit-identical across
    engines and independent of summation order — which is what makes an
    ITERATIVE algorithm oracle-checkable (float PageRank would hash-drift
    on reduction order). Dangling mass is dropped, the classic
    simplification; ranks ORDER identically to the float variant at the
    same iteration count up to the div truncation (< 1 unit per edge).

    Distributed shape: the driver loop is O(iters); each round is one
    edges⋈ranks hash join + a groupBy-sum with map-side partials, both
    keyed on node ids. The rank table (one row per node) is eagerly
    checkpointed per round so plan depth stays O(1); edges/nodes/degrees
    are computed once and persisted across rounds. With
    `broadcast_tables` (default) the rank and degree tables — node-
    dimension-sized, orders of magnitude smaller than edges — are
    broadcast into the per-round join, so the EDGE table never
    re-exchanges across rounds (the only shuffle per round is the
    contribution groupBy). The default (None) auto-gates: the rank
    table is broadcast only when its materialized bytes pass
    `sizing.broadcast_ok` — so at billions of vertices the loop
    degrades to sort-merge joins by itself instead of OOMing an
    executor on a forced broadcast. Pass True/False to force.

    Small-graph tier (r11): when the MATERIALIZED edge table passes
    `sizing.one_task_ok`, the whole loop runs in ONE Arrow task
    (`_pagerank_local_arrow`) — per-round scheduled actions (~0.4 s
    fixed latency each on local mode) dominate a tiny graph's cost.
    Bit-exact against the distributed loop, property-pinned, null-key
    semantics included. Forcing `broadcast_tables` keeps the
    distributed loop; so does a one-task budget of 0
    (`sizing.one_task_max_bytes`), which tests use to pin local ==
    distributed.

    `dangling=True` redistributes dangling mass instead of dropping it
    (the at-scale-correct form: on real graphs a large rank fraction
    sits on sink nodes): each round the summed rank of out-degree-0
    nodes D is shared uniformly — every node additionally receives
    `damp·D div damp_den div N`. Both the sum and the share are exact
    int64 ops, so the oracle property is preserved. The out-degree-0
    flag is joined ONCE before the loop and carried through every
    update, so each round pays only a filter-agg projection (one fused
    broadcast row, O(1) driver traffic, no per-round node-dim join).

    `early_stop=True` detects the exact fixpoint: integer truncation
    quantizes ranks, so iteration reaches a stationary vector in
    finitely many rounds; once Σ|rankᵢ₊₁ − rankᵢ| = 0 every further
    round is the identity, and stopping early provably equals running
    all `iters` rounds — which is what keeps a fixed-round SQL oracle
    valid against a convergence-stopped engine. The update carries the
    previous rank through the checkpoint, so each check is a
    projection-agg over the just-materialized table — no join with the
    old rank table is scheduled. `stats` (optional dict) receives
    `{"local": bool, "rounds": r, "converged": bool}`; the one-task
    kernel does not report its rounds, so both are None when `local`.

    `convergence_check_every=k` amortizes the stop check: the Δ scan is
    a driver ACTION per round (the dominant per-round latency on short
    chains), and checking every k-th round stays exact — a fixpoint
    reached between checks just runs ≤ k−1 identity rounds before the
    next check sees Δ=0, so the returned vector is unchanged.
    """
    e = edges.select("src", "dst").distinct().persist()
    # materialize the edge dim up front: every mode decision below reads
    # REAL sizes, and the local-Arrow gate must fire before the node-dim
    # build schedules its checkpoint job
    e.count()
    if broadcast_tables is None and sizing.one_task_ok(e):
        e2, restore = _arrow_ids(e)
        if e2 is not None:
            out = _pagerank_local_arrow(
                e2, iters, base, damp_num, damp_den, init, dangling,
                early_stop,
            ).localCheckpoint(eager=True)
            e.unpersist(blocking=False)
            if stats is not None:
                stats.update(local=True, rounds=None, converged=None)
            return restore(out, ["id"])
        # exotic id types (float/binary/struct): distributed loop

    def maybe_b(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if broadcast_tables else df

    # ONE aggregation builds the whole node dimension — ids, out-degrees
    # (0 for sinks, so the dangling flag is a projection, no anti-join)
    # — fused into the rank table and carried through every round. The
    # per-round contribution join then reads rank AND outdeg from a
    # single broadcast instead of two, and the pre-loop schedules one
    # checkpoint job instead of three (nodes, deg, flag-join): on small
    # graphs the driver-loop latency IS the cost, ~0.4 s per scheduled
    # action (measured, SCALE.md iterative-graph section).
    ranks = (
        e.select(F.col("src").alias("id"), F.lit(1).alias("__o"))
        .unionByName(e.select(F.col("dst").alias("id"), F.lit(0).alias("__o")))
        .groupBy("id")
        .agg(F.sum("__o").alias("outdeg"))
        .withColumn("rank", F.lit(init).cast("long"))
    )
    if dangling:
        ranks = ranks.withColumn("__dang", F.col("outdeg") == 0)
    ranks = ranks.localCheckpoint(eager=True)
    # Execution mode, decided from MATERIALIZED bytes (e is persisted,
    # ranks checkpointed):
    # - single: the whole graph fits the broadcast budget, so the loop
    #   runs single-partition — coalesce(1) makes SinglePartition
    #   planner-visible, which satisfies every join/agg distribution
    #   requirement: ZERO exchanges and zero broadcast sub-jobs per
    #   round, the dangling share an unpartitioned window instead of a
    #   per-round 1-row broadcast. On local mode each scheduled job
    #   costs ~0.4 s of fixed driver latency (measured, SCALE.md), so a
    #   tiny graph must not pay 32-task waves times 3 stages per round.
    # - broadcast: edges too big to re-exchange per round, node dim
    #   fits the budget → force the rank-table broadcast so the edge
    #   table never moves (the 100 TB shape).
    # - plain: node dim over budget too → unhinted joins; AQE picks the
    #   strategy per round from runtime sizes and degrades to sort-
    #   merge instead of OOMing an executor on a forced broadcast.
    # broadcast_tables True/False force broadcast/plain respectively.
    single_mode = False
    if broadcast_tables is None:
        ranks_fit = sizing.broadcast_ok(ranks)
        single_mode = ranks_fit and sizing.broadcast_ok(e)
        broadcast_tables = ranks_fit and not single_mode
    if single_mode:
        e = e.coalesce(1)
        ranks = ranks.coalesce(1)
    # the dangling share needs the previous rank in-row on the single-
    # partition path (window over __prev), and the Δ check always does
    carry_prev = early_stop or (dangling and single_mode)
    n_nodes = ranks.count() if dangling and not single_mode else 0
    rounds_run, converged = 0, False
    for it in range(iters):
        contrib = (
            e.join(maybe_b(ranks), e.src == ranks.id)
            .select(
                F.col("dst").alias("id"),
                F.expr(f"{damp_num} * rank div {damp_den} div outdeg").alias(
                    "c"
                ),
            )
        )
        # the previous rank rides along when the Δ check or the single-
        # partition dangling share needs it in-row; the plain fixed-
        # iteration path skips the extra column entirely.
        carry = ["outdeg"] + (["__dang"] if dangling else [])
        lhs = (
            ranks.select("id", *carry, F.col("rank").alias("__prev"))
            if carry_prev
            else ranks.select("id", *carry)
        )
        new_ranks = lhs.join(
            contrib.groupBy("id").agg(F.sum("c").alias("s")), "id", "left"
        )
        if dangling and single_mode:
            # dangling mass as an UNPARTITIONED window over the joined
            # node table (one row per node, __prev = rank_{k-1}): on
            # the single-partition path this costs no exchange and no
            # per-round broadcast sub-job. Exact int64, same value as
            # the broadcast form (equality is test-pinned).
            from pyspark.sql.window import Window

            w = Window.partitionBy()
            new_ranks = (
                new_ranks.withColumn(
                    "__dm",
                    F.coalesce(
                        F.sum(
                            F.when(F.col("__dang"), F.col("__prev"))
                        ).over(w),
                        F.lit(0),
                    ),
                )
                .withColumn("__nn", F.count(F.lit(1)).over(w))
                .withColumn(
                    "__share",
                    F.expr(f"{damp_num} * __dm div {damp_den} div __nn"),
                )
                .drop("__dm", "__nn")
            )
        elif dangling:
            # dangling mass = Σ rank over the pre-flagged out-degree-0
            # nodes — a filter-agg PROJECTION over the rank table (the
            # per-node flag was joined once before the loop), its ONE
            # row fused into the round's plan via a broadcast cross
            # join — no per-round node-dim join, no driver roundtrip.
            # int64 `div` (≡ SQL/python floor div on non-negatives)
            # keeps the share exact and engine-identical. An empty
            # graph has no node to share with; max(·, 1) only keeps its
            # one-row aggregate from dividing by zero.
            share_row = (
                ranks.filter(F.col("__dang"))
                .agg(F.coalesce(F.sum("rank"), F.lit(0)).alias("__dm"))
                .select(
                    F.expr(
                        f"{damp_num} * __dm div {damp_den}"
                        f" div {max(n_nodes, 1)}"
                    ).alias("__share")
                )
            )
            new_ranks = new_ranks.crossJoin(F.broadcast(share_row))
        else:
            new_ranks = new_ranks.withColumn(
                "__share", F.lit(0).cast("long")
            )
        new_ranks = new_ranks.select(
            "id",
            *carry,
            *(["__prev"] if carry_prev else []),
            (
                F.lit(base)
                + F.col("__share")
                + F.coalesce(F.col("s"), F.lit(0))
            )
            .cast("long")
            .alias("rank"),
        )
        # truncate lineage every `checkpoint_every` rounds (and always
        # before returning): each eager checkpoint is a scheduled job,
        # so per-round checkpointing triples the driver-loop latency at
        # small scale while a 3-round plan is still O(1)-deep.
        # checkpoint_every=0 disables truncation (plan-inspection /
        # tiny-graph use only — plan depth then grows with iters).
        # never check on the FINAL round: there are no further rounds a
        # Δ=0 could skip, so the check would be a pure extra driver
        # action + forced checkpoint (measured ~0.3 s/check at sf0.1).
        check_now = (
            early_stop
            and it != iters - 1
            and (it + 1) % max(1, convergence_check_every) == 0
        )
        if checkpoint_every and (
            it % checkpoint_every == checkpoint_every - 1
            or it == iters - 1
            or check_now
        ):
            # on a check round the checkpoint is LAZY: the Δ agg below
            # is the action that materializes it, so the check costs no
            # extra scheduled job (each job is ~0.4 s of fixed driver
            # latency on small graphs — see SCALE.md)
            new_ranks = new_ranks.localCheckpoint(eager=not check_now)
            if single_mode:
                # re-state the planner-visible SinglePartition the
                # checkpoint erased (LogicalRDD → UnknownPartitioning)
                new_ranks = new_ranks.coalesce(1)
        rounds_run = it + 1
        ranks = new_ranks.drop("__prev")
        if check_now:
            # Δ is a projection-agg over the row this action
            # materializes — the update carries the previous rank
            # through the checkpoint, so no join with the old table is
            # scheduled.
            delta = new_ranks.agg(
                F.sum(F.abs(F.col("rank") - F.col("__prev")))
            ).first()[0]
            if delta == 0:
                converged = True
                break
    e.unpersist(blocking=False)
    if stats is not None:
        stats.update(local=False, rounds=rounds_run, converged=converged)
    return ranks.select("id", "rank")


_TRI_DENSE_MAX_N = 32_768  # bitset matrix ≤ n²/8 = 128 MB


def _triangle_dense_codes(s, d, n: int) -> int:
    """Triangle count over an oriented, distinct, code-indexed edge
    list via a dense BITSET adjacency: one n×⌈n/64⌉ uint64 matrix
    built vectorized (sort + bitwise_or.reduceat), then per-edge
    popcount(adj[u] & adj[v]) through a uint16 lookup table, chunked
    so the AND workspace stays ~25 MB. Intersection work is m·n/64
    WORDS — on the z42 supplier graph (n=1k, m=109k, Σdeg²=16.2M)
    this counts in ~0.04 s where a wedge-materializing approach
    (distributed join or numpy expansion) spends ~1.5–2 s on 16M
    wedge rows."""
    import numpy as np

    lut = np.array(
        [bin(i).count("1") for i in range(65536)], dtype=np.uint16
    )
    W = (n + 63) // 64
    adj = np.zeros(n * W, dtype=np.uint64)
    flat = s * W + (d >> 6)
    bits = np.uint64(1) << (d & 63).astype(np.uint64)
    order = np.argsort(flat, kind="stable")
    fo, vo = flat[order], bits[order]
    heads = np.flatnonzero(np.r_[True, fo[1:] != fo[:-1]])
    adj[fo[heads]] = np.bitwise_or.reduceat(vo, heads)
    adj = adj.reshape(n, W)
    tri = 0
    step = max(1024, 8_000_000 // max(W, 1))
    for lo in range(0, len(s), step):
        inter = adj[s[lo : lo + step]] & adj[d[lo : lo + step]]
        tri += int(lut[inter.view(np.uint16)].sum())
    return tri


def _triangle_sparse_codes(s, d, n: int, m: int) -> int:
    """Triangle count over an oriented, distinct, code-indexed edge
    list via compact-forward: sort edges by src, locate each edge's
    (v,·) partner block with searchsorted, membership-test wedge
    closures against the sorted combined edge key — the wedge
    expansion in bounded CHUNKS (~4M rows) so peak memory is O(chunk),
    not O(Σdeg²). Combined key u*n+v is exact while n² < 2^63; a
    graph anywhere near that node count can never pass the wedge
    gate."""
    import numpy as np

    chunk_rows = 4_000_000
    ekey = np.sort(s * n + d)
    order = np.argsort(s, kind="stable")
    s_s, d_s = s[order], d[order]
    starts = np.searchsorted(s_s, d, side="left")
    counts = np.searchsorted(s_s, d, side="right") - starts
    cum = np.cumsum(counts)
    tri = 0
    lo = 0
    while lo < m:
        base = int(cum[lo - 1]) if lo else 0
        hi = int(np.searchsorted(cum, base + chunk_rows, side="right"))
        hi = min(max(hi, lo + 1), m)
        cnt = counts[lo:hi]
        tot = int(cnt.sum())
        if tot:
            a = np.repeat(s[lo:hi], cnt)
            lcum = np.cumsum(cnt) - cnt
            idx = np.repeat(starts[lo:hi], cnt) + (
                np.arange(tot) - np.repeat(lcum, cnt)
            )
            wkey = a * n + d_s[idx]
            pos = np.searchsorted(ekey, wkey)
            np.clip(pos, 0, len(ekey) - 1, out=pos)
            tri += int((ekey[pos] == wkey).sum()) if len(ekey) else 0
        lo = hi
    return tri


def _triangle_local_arrow(e: DataFrame, orient: str) -> DataFrame:
    """Small-graph execution of `triangle_count`: the whole pipeline —
    self-loop removal, symmetric dedup, orientation, count — in ONE
    Arrow task over the single-partition RAW edge projection (the
    distributed path's symmetrize→distinct→orient shuffle chain is
    ~3 scheduled stages of pure overhead on a one-task graph). Unlike
    the other one-task tiers this one is NOT gated on edge bytes — the
    cost of triangle counting is the WEDGE volume Σ_u outdeg(u)² (the
    `right_degree_histogram` frame: a tiny edge table can still carry a
    quadratic wedge load), so the caller gates on the measured Σdeg² of
    the canonically-oriented edge set and only then collapses to one
    task.

    Ids are encoded by `_encode_ids`, whose codes are in value order,
    so orienting and deduplicating on codes is orienting and
    deduplicating on values.

    Pure-numpy, two internal strategies picked by NODE count:

    - n ≤ 32k (the dense regime that produces high wedge volume in the
      first place): BITSET adjacency — one n×⌈n/64⌉ uint64 matrix
      (≤ 128 MB), built vectorized via sort + bitwise_or.reduceat,
      then per-edge popcount(adj[u] & adj[v]) through a uint16 lookup
      table, chunked so the AND workspace stays ~25 MB. On the z42
      supplier graph (n=1k, m=109k, Σdeg²=16.2M) this counts in
      ~0.04 s where both the distributed wedge join and a
      wedge-expansion kernel spend ~1.5–2 s materializing 16M wedge
      rows — intersection work is m·n/64 WORDS, not Σdeg² rows.
    - larger n: compact-forward via sorted-edge searchsorted, the
      wedge expansion in bounded CHUNKS (~4M rows) so peak memory is
      O(chunk), not O(Σdeg²).

    Null endpoints are dropped exactly like the distributed equi-joins
    drop them (a property test pins local == distributed on
    null-bearing inputs).

    The one-row total is produced by an aggregate ABOVE the kernel, so
    a zero-partition edge frame still yields the (n_triangles=0) row
    the distributed agg would (the k-hop hop-0 lesson)."""
    import numpy as np
    import pyarrow as pa

    def run(batches):
        bl = list(batches)
        if not bl:
            return
        t = pa.Table.from_batches(bl)
        (s, d), uniques = _encode_ids(t.column("u"), t.column("v"))
        # nulls never survive the distributed equi-joins/comparisons;
        # self-loops are filtered there by u != v — mirror both
        valid = (s >= 0) & (d >= 0) & (s != d)
        s, d = s[valid], d[valid]
        n = max(len(uniques), 1)
        # symmetric dedup on unordered pairs
        lo = np.minimum(s, d)
        hi = np.maximum(s, d)
        key = np.unique(lo * n + hi)
        lo, hi = key // n, key % n
        m = len(key)
        if orient == "degree" and m:
            deg = np.bincount(
                np.concatenate([lo, hi]), minlength=n
            ).astype(np.int64)
            fwd = (deg[lo] < deg[hi]) | (
                (deg[lo] == deg[hi]) & (lo < hi)
            )
            s, d = np.where(fwd, lo, hi), np.where(fwd, hi, lo)
        else:
            s, d = lo, hi
        if m == 0:
            tri = 0
        elif n <= _TRI_DENSE_MAX_N:
            tri = _triangle_dense_codes(s, d, n)
        else:
            tri = _triangle_sparse_codes(s, d, n, m)
        yield pa.RecordBatch.from_pydict(
            {"n_triangles": pa.array([tri], pa.int64())}
        )

    return (
        e.coalesce(1)
        .mapInArrow(run, "n_triangles long")
        .agg(
            F.coalesce(F.sum("n_triangles"), F.lit(0))
            .cast("long")
            .alias("n_triangles")
        )
    )


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    orient: str = "id",
    tier_stats: dict | None = None,
) -> DataFrame:
    """Total triangle count over an undirected edge list → one row
    (n_triangles). Edges are oriented into a DAG first (u→v with u<v),
    so each triangle is enumerated exactly once by the two-join pattern
    e(u,v) ⋈ e(v,w) ⋈ e(u,w) — the standard compact-forward scheme; no
    per-node adjacency materialization, everything is equi-joins Catalyst
    can shuffle on edge keys.

    `orient="id"` orders by vertex id — deterministic and
    oracle-mirrorable in SQL. `orient="degree"` orders by (degree, id),
    the at-scale variant: the wedge join e(v,·)⋈e(v,·) is quadratic in
    the max OUT-degree, and degree-orientation bounds every out-degree
    by O(√|E|) regardless of skew (a celebrity node's edges all point
    INTO it). Both orientations count the same triangles — a pytest
    pins the equality — so the suite uses "id" for the oracle and a
    100 TB caller flips to "degree".

    Small-graph tier: the one-Arrow-task kernel
    (`_triangle_local_arrow`) runs when its gate admits. The gate is
    TWO-stage and keyed on WEDGE volume, not edge bytes (r11 VERDICT
    #1): first the free materialized-size check (`sizing.one_task_ok`
    on the raw edge projection — at 100 TB this refuses instantly and
    nothing extra runs), then a one-aggregate Σ outdeg² probe of the canonically
    (value-)oriented distinct edge set against
    `sizing.TRIANGLE_WEDGE_BUDGET` (32M wedge rows ≈ the distributed
    wedge join's row count) — because a one-task-sized edge table can
    still carry a quadratic wedge load
    (a single hub's deg² dominates). The probe measures the "id"
    orientation for BOTH orients: degree orientation's volume is no
    larger on the skewed graphs the gate exists for, so the gate errs
    conservative (refuse → distributed). When the tier is taken, the
    ENTIRE pipeline (dedup, orientation, count) runs inside the one
    Arrow task — no distributed symmetrize/distinct stages at all.
    Pass `tier_stats={}` to observe the decision in-band: {"local",
    "wedges", "budget"}. Both paths are property-pinned equal,
    including null-endpoint and duplicate-edge inputs; a one-task
    budget of 0 (`sizing.one_task_max_bytes`) forces the distributed
    wedge join."""
    from .util import materialize_and_release

    e_raw = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    budget = sizing.TRIANGLE_WEDGE_BUDGET
    wedge_vol = None
    use_local = False
    pinned: list[DataFrame] = []
    if not e_raw.isStreaming:
        e_raw = e_raw.persist()
        pinned.append(e_raw)
        e_raw.count()  # materialize: real size for stage-1 of the gate
        if sizing.one_task_ok(e_raw):
            wedge_vol = sizing.wedge_volume(
                e_raw.filter(F.col("u") != F.col("v"))
                .select(
                    F.least("u", "v").alias("u"),
                    F.greatest("u", "v").alias("v"),
                )
                .distinct(),
                "u",
            )
            use_local = wedge_vol is not None and wedge_vol <= budget
    if tier_stats is not None:
        tier_stats.update(local=use_local, wedges=wedge_vol, budget=budget)
    if use_local:
        e2, _ = _arrow_ids(e_raw)
        if e2 is not None:
            return materialize_and_release(
                _triangle_local_arrow(e2, orient), *pinned
            )
        # exotic id types (float/binary/struct): distributed path
        if tier_stats is not None:
            tier_stats["local"] = False
    e = e_raw
    e = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    e = e.filter(F.col("u") != F.col("v")).distinct()
    if orient == "degree":
        deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
        ranked = (
            e.join(deg.withColumnsRenamed({"u": "u_", "d": "du"}),
                   F.col("u") == F.col("u_"))
            .join(deg.withColumnsRenamed({"u": "v_", "d": "dv"}),
                  F.col("v") == F.col("v_"))
            .select(
                "u", "v",
                (
                    (F.col("du") < F.col("dv"))
                    | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
                ).alias("fwd"),
            )
        )
        dag = ranked.filter("fwd").select("u", "v")
    else:
        dag = e.filter(F.col("u") < F.col("v"))
    dag = dag.persist()
    wedges = (
        dag.alias("e1")
        .join(dag.alias("e2"), F.col("e1.v") == F.col("e2.u"))
        .select(
            F.col("e1.u").alias("a"),
            F.col("e1.v").alias("b"),
            F.col("e2.v").alias("c"),
        )
    )
    out = (
        wedges.join(
            dag.alias("e3"),
            (F.col("a") == F.col("e3.u")) & (F.col("c") == F.col("e3.v")),
            "left_semi",
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return materialize_and_release(out, dag, *pinned)


def cooccurrence_triangles(
    groups: DataFrame,
    items: str = "items",
    min_support: int = 1,
    tier_stats: dict | None = None,
) -> DataFrame:
    """Market-basket graph metrics in one shot → a single row
    (n_edges, n_triangles): build the co-occurrence graph over a
    per-group ITEM-SET table (one array column — the output of
    `groupBy(basket).agg(collect_set(item))`), keep unordered pairs
    sharing ≥ `min_support` groups, and triangle-count the result (the
    z42 recurring-partnership analysis: suppliers co-occurring in ≥4
    orders, then triangle closure over the partnership graph).

    The input is the AGGREGATED group dimension, not the fact table —
    the fact-scale `groupBy(basket)` stays a distributed aggregation
    at every scale; what this operator fuses is everything AFTER it.
    The tier is gated on the MATERIALIZED size of the item-set table
    (`sizing.one_task_ok`): when it fits, pair explode → support count
    → threshold → orientation → triangle count all run in ONE Arrow
    task (numpy unique/bincount — the distributed fallback pays two
    more shuffles plus the triangle-gate probes for the same answer on
    a one-task graph);
    when it does not, the distributed fallback explodes ordered pairs
    from the sorted arrays, counts them with a hash aggregate, and
    delegates to `triangle_count` (which applies its own wedge-volume
    gate). Bounded-regret corner, stated honestly: an adversarial
    one-task-fit input (huge item arrays / a hub item) makes the
    kernel's worst case the same Σdeg² wedge work the DISTRIBUTED
    join would do, minus executor parallelism — bounded by the gate's
    byte budget, and the dense-bitset path (n ≤ 32k items) covers the
    naturally-dense market-basket regime in m·n/64 word ops instead.

    Pair counting treats each group's array as a SET (use collect_set
    upstream; duplicate items within one array self-pair-filter but
    double-count pair support identically on both paths). Items cross
    the Arrow boundary through `_arrow_ids`/`_encode_ids` (integral
    items as exact int64, strings as strings), whose value-ordered
    codes canonicalize unordered pairs and orient the DAG inside the
    kernel. NULL arrays contribute nothing; null ELEMENTS
    inside arrays are dropped (collect_set never emits them; the
    fallback drops them with array_compact before pairing).

    Reference frame: the reference runs graph closure over its
    embedded JanusGraph whole-graph view (TxGraphWriter.scala:35-73)
    — same one-task reality this tier reproduces with an explicit
    scale gate."""
    from pyspark.sql.types import ArrayType

    from .util import materialize_and_release

    g = groups.select(F.col(items).alias("items"))
    elem_t = g.schema["items"].dataType.elementType  # type: ignore[attr-defined]
    wide_t = _arrow_id_type(elem_t)
    use_local = False
    pinned: list[DataFrame] = []
    if not g.isStreaming:
        g = g.persist()
        pinned.append(g)
        g.count()  # materialize: real size for the one-task gate
        use_local = sizing.one_task_ok(g)
    use_local = use_local and wide_t is not None
    if tier_stats is not None:
        tier_stats.update(local=use_local)
    if use_local:
        out = _cooccur_local_arrow(
            g.select(F.col("items").cast(ArrayType(wide_t)).alias("items")),
            min_support,
        )
        return materialize_and_release(out, *pinned)
    # distributed fallback: ordered-pair explode from sorted arrays →
    # hash-aggregate support count → threshold → triangle_count (its
    # own wedge gate applies); array_sort makes i<j emission the
    # value-canonical unordered pair, and array_compact drops null
    # elements as the kernel does
    pairs = g.select(
        F.array_sort(F.array_compact("items")).alias("ss")
    ).select(
        F.explode(
            F.flatten(
                F.transform(
                    "ss",
                    lambda x, i: F.transform(
                        F.slice(F.col("ss"), i + 2, F.size("ss")),
                        lambda y: F.struct(x.alias("src"), y.alias("dst")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.src", "p.dst")
    edges = (
        pairs.groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= min_support)
        .select("src", "dst")
        .localCheckpoint(eager=True)
    )
    for df in pinned:
        df.unpersist(blocking=False)
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    tri = triangle_count(edges)
    return F.broadcast(n_edges).crossJoin(tri)


def _cooccur_local_arrow(g: DataFrame, min_support: int) -> DataFrame:
    """One-task kernel for `cooccurrence_triangles`: item arrays
    (int64 or string elements) → pair support counts → thresholded
    edge set → dense-bitset or chunked compact-forward triangle count.
    Pair expansion batches rows BY ARRAY LENGTH k (triu_indices(k) per
    batch, row-chunked so each expansion stays ~8M cells), so the
    whole explode is a handful of vectorized gathers even with mixed
    basket sizes. The one-row total is produced by an aggregate ABOVE
    the kernel (zero-partition safety, the k-hop hop-0 lesson)."""

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    def run(batches):
        bl = list(batches)
        if not bl:
            return
        arr = pa.Table.from_batches(bl).column("items").combine_chunks()
        # a NULL array has length 0 here, and flatten() skips its slot
        lens = pc.list_value_length(arr).fill_null(0).to_numpy()
        (codes,), uniques = _encode_ids(pa.chunked_array([arr.flatten()]))
        n = max(len(uniques), 1)
        offsets = np.cumsum(lens) - lens
        key_chunks = [np.empty(0, dtype=np.int64)]
        for k in np.unique(lens[lens >= 2]):
            rows = np.flatnonzero(lens == k)
            iu, ju = np.triu_indices(int(k), 1)
            step = max(1, 8_000_000 // len(iu))
            for lo in range(0, len(rows), step):
                sel = rows[lo : lo + step]
                idx = offsets[sel][:, None] + np.arange(int(k))[None, :]
                M = codes[idx]
                a = M[:, iu].ravel()
                b = M[:, ju].ravel()
                valid = (a >= 0) & (b >= 0) & (a != b)
                a, b = a[valid], b[valid]
                key_chunks.append(np.minimum(a, b) * n + np.maximum(a, b))
        uniq, cnt = np.unique(np.concatenate(key_chunks), return_counts=True)
        kept = uniq[cnt >= min_support]
        m = len(kept)
        s, d = kept // n, kept % n
        if m == 0:
            tri = 0
        elif n <= _TRI_DENSE_MAX_N:
            tri = _triangle_dense_codes(s, d, n)
        else:
            tri = _triangle_sparse_codes(s, d, n, m)
        yield pa.RecordBatch.from_pydict(
            {
                "n_edges": pa.array([m], pa.int64()),
                "n_triangles": pa.array([tri], pa.int64()),
            }
        )

    return (
        g.coalesce(1)
        .mapInArrow(run, "n_edges long, n_triangles long")
        .agg(
            F.coalesce(F.sum("n_edges"), F.lit(0))
            .cast("long")
            .alias("n_edges"),
            F.coalesce(F.sum("n_triangles"), F.lit(0))
            .cast("long")
            .alias("n_triangles"),
        )
    )


def _components_local_arrow(e: DataFrame) -> DataFrame:
    """Small-graph execution of `connected_components`: union-find in
    ONE Arrow task over the ONE-DIRECTION pair table (merging (a, b)
    merges (b, a), so no mirrored rows are needed), ids encoded by
    `_encode_ids`. Exactly equal to the hash-min propagation fixpoint,
    property-pinned, including its null-key semantics: a null endpoint
    is a real node (the label table is built from the symmetrized 'u'
    column, which includes null) but its edges can never deliver a
    label through the equi-joins — so the null node is its own (null,
    null) singleton, emitted only when nulls exist, and a node whose
    only neighbor is null keeps its own id. The node set is every
    distinct non-null endpoint; component = the minimum member id,
    which is the minimum CODE because codes are in value order."""
    import numpy as np
    import pyarrow as pa

    id_t = e.schema["u"].dataType.simpleString()
    schema = f"id {id_t}, component {id_t}"

    def run(batches):
        bl = list(batches)
        if not bl:
            return
        t = pa.Table.from_batches(bl)
        if t.num_rows == 0:
            return
        (u_idx, v_idx), uniques = _encode_ids(t.column("u"), t.column("v"))
        n = len(uniques)
        parent = list(range(n))

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in zip(u_idx.tolist(), v_idx.tolist()):
            if a < 0 or b < 0:
                continue  # null never equi-matches
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[rb] = ra
        roots = np.array([find(c) for c in range(n)], dtype=np.int64)
        # codes ascend, so a root's first member is its minimum
        _, first, inv = np.unique(
            roots, return_index=True, return_inverse=True
        )
        ids = np.arange(n, dtype=np.int64)
        comps = first[inv].astype(np.int64)
        if bool((u_idx < 0).any() or (v_idx < 0).any()):
            ids = np.append(ids, -1)
            comps = np.append(comps, -1)
        yield pa.RecordBatch.from_pydict(
            {
                "id": _decode_ids(uniques, ids),
                "component": _decode_ids(uniques, comps),
            }
        )

    return e.coalesce(1).mapInArrow(run, schema)


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 50,
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed connected components over an undirected pair list →
    (id, component) with component = the minimum member id.

    Hash-min label propagation: every node starts as its own label; each
    round takes the min over neighbor labels (one edges⋈labels hash join
    + one groupBy-min, both shuffling on bounded node keys — never an
    all-pairs product). Convergence is O(component diameter) rounds; for
    near-dup clusters — dense blobs produced by candidate generation —
    the diameter is tiny, so this beats the alternating large-star/
    small-star scheme (Kiveris et al., "Connected Components in MapReduce
    and Beyond") in round count; a long path favours that scheme instead
    (O(log² n) rounds regardless of diameter). Each round eagerly
    localCheckpoints the label table (bounded: one row per distinct
    node), so plan depth stays O(1);
    convergence = zero per-row label changes in a round (labels only ever
    decrease, so zero changes is a fixpoint and the loop must terminate —
    and unlike a label-sum probe this works for string ids too).

    Small-graph tier: when the materialized pair table passes
    `sizing.one_task_ok`, the whole fixpoint runs as union-find in ONE
    Arrow task (`_components_local_arrow` — the pagerank posture).
    Bit-exact against the distributed loop, property-pinned."""
    u, v = F.col("u"), F.col("v")
    # Every per-round exchange is pinned to an EXPLICIT partition count
    # instead of the session's spark.sql.shuffle.partitions: the label
    # table is node-sized — orders of magnitude below the corpus the
    # session default is tuned for — and the loop schedules stages per
    # ROUND, so near-empty tasks dominate wall-clock (measured 41 s →
    # ~8 s at sf0.01 under a default-conf session). The count is sized
    # to the ACTUAL edge list (near-dup graphs are routinely a few
    # hundred edges — 32 tasks × ~6 stages × N rounds of scheduling for
    # 256 rows was pure overhead), capped at cluster parallelism for
    # big graphs; `num_partitions` overrides. Keys are pre-partitioned
    # so Catalyst reuses the layout: edges by v (the join key), nbr_min
    # by u, labels by id — the round's join and agg add no exchange.
    spark = pairs.sparkSession
    if pairs.isStreaming:
        # count() raises on streaming frames — size to cluster
        # parallelism instead (matching the checkpoint guard's intent)
        n = num_partitions or spark.sparkContext.defaultParallelism
    else:
        # pin the input once: the symmetrize below scans it twice, and
        # the sizing count must not recompute candidate generation.
        # Inputs that ARE already a materialized checkpoint (dedup
        # pipelines hand over materialize_and_release output) skip the
        # redundant re-pin — one fewer barrier job (r13).
        if not sizing.is_checkpoint_backed(pairs):
            pairs = pairs.localCheckpoint(eager=True)
        n = num_partitions or max(
            1,
            min(
                spark.sparkContext.defaultParallelism,
                pairs.count() // 10_000 + 1,
            ),
        )
    # pairs is already eagerly checkpointed + counted above — the size
    # is real; symmetrized edges ≤ 2× pairs bytes
    if not pairs.isStreaming and sizing.one_task_ok(pairs):
        one = pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        e2, restore = _arrow_ids(one)
        if e2 is not None:
            out = _components_local_arrow(e2).localCheckpoint(eager=True)
            return restore(out, ["id", "component"])
        # exotic id types: fall through to the distributed loop
    edges = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .unionByName(
            pairs.select(F.col(b_col).alias("u"), F.col(a_col).alias("v"))
        )
        .repartition(n, "v")
        .distinct()
    ).persist()
    labels = (
        edges.select(u.alias("id"))
        .repartition(n, "id")
        .distinct()
        .withColumn("label", F.col("id"))
    ).localCheckpoint(eager=True)
    converged = False
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels.repartition(n, "id"), edges.v == labels.id)
            .select("u", "label")
            .repartition(n, "u")
            .groupBy("u")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_label = F.least(F.col("label"), F.coalesce("nbr_label", "label"))
        new_labels = (
            labels.repartition(n, "id")
            .join(nbr_min, labels.id == nbr_min.u, "left")
            .select(
                "id",
                new_label.alias("label"),
                # convergence signal carried per row: labels only ever
                # DECREASE, so zero changed rows ⟺ fixpoint. A count of
                # changes is id-type-agnostic — the old sum(label) probe
                # cast STRING doc ids to double and threw (labels are
                # whatever the caller's id type is, not always numeric).
                (new_label < F.col("label")).alias("__chg"),
            )
            .localCheckpoint(eager=True)
        )
        labels.unpersist(blocking=False)
        labels = new_labels
        n_changed = labels.agg(
            F.sum(F.col("__chg").cast("long"))
        ).first()[0]
        if not n_changed:
            converged = True
            break
    edges.unpersist(blocking=False)
    if not converged:
        # Returning un-converged labels would silently under-merge
        # clusters (components whose diameter exceeds max_iter). That is
        # a correctness failure, not a budget knob — fail loudly.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "raise max_iter (graph has components with larger diameter)"
        )
    return labels.select("id", F.col("label").alias("component"))


def degree_assortativity_stats(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    edges_canonical: bool = False,
) -> DataFrame:
    """Exact sufficient statistics for degree assortativity over an
    undirected edge list → ONE row (m, sum_j, sum_k, sum_jk, sum_j2,
    sum_k2) where j, k are the endpoint degrees of each undirected
    edge (both orientations contribute, the standard convention — the
    Pearson coefficient over edge-endpoint degree pairs is then
    r = (m·Σjk − Σj·Σk) / sqrt((m·Σj² − (Σj)²)(m·Σk² − (Σk)²)),
    a driver-side float the caller derives; every sufficient statistic
    here is EXACT and engine-identical. Big products surface as
    DECIMAL(38,0) digit strings (z41 convention).

    Distributed shape (r12): the symmetrized edge list is pinned with a
    lazy checkpoint — the upstream edge generation (often an expensive
    self-join, zy4) runs ONCE instead of once per reference; Catalyst
    re-evaluates shared subtrees, so the former two-equi-join form paid
    the edge build six times (pairs + both degree joins × the two-sided
    union). Edge rows then traverse ONE broadcast join (pick up the
    v-side degree) and are regrouped per u — Σ_edges f(ju, kv) =
    Σ_u Σ_{v∈N(u)} f(d_u, d_v), exact integer regrouping — so the
    per-u partial sums join the node-sized degree table and reduce to
    the one-row answer. NULL semantics match the former inner-join
    shape bit-for-bit: degrees count NULL-neighbor rows (groupBy keeps
    the rows), but NULL-endpoint rows never PAIR (inner equi-joins
    dropped them), hence the explicit both-ends-non-null filter on the
    pair side only.

    `edges_canonical=True` asserts the input is already one DISTINCT
    row per undirected edge with src strictly < dst (no self-loops, no
    mirrored rows) — then the symmetrized union is disjoint by
    construction and the `.distinct()` exchange over 2× the edge rows
    is skipped (r13; equality with the default path is test-pinned).
    Callers whose edge build ends in a groupBy on (src, dst) under a
    src < dst join condition (zy4) qualify; leave False otherwise."""
    und = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).unionByName(
        edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    )
    if not edges_canonical:
        und = und.distinct()
    if not und.isStreaming:
        und = und.localCheckpoint(eager=False)
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    if not und.isStreaming:
        deg = deg.localCheckpoint(eager=False)
    dv = deg.select(F.col("u").alias("v"), F.col("d").alias("kv"))
    per_u = (
        und.filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .join(dv, "v")
        .groupBy("u")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("kv").alias("skv"),
            F.sum(F.col("kv") * F.col("kv")).alias("skv2"),
        )
        .join(deg, "u")
    )
    big = lambda c: F.sum(c.cast("decimal(38,0)")).cast("decimal(38,0)")
    d = F.col("d")
    return per_u.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("bigint").alias("m"),
        F.sum(d * F.col("cnt")).cast("bigint").alias("sum_j"),
        F.sum("skv").cast("bigint").alias("sum_k"),
        big(d * F.col("skv")).cast("string").alias("sum_jk"),
        big(d * d * F.col("cnt")).cast("string").alias("sum_j2"),
        big(F.col("skv2")).cast("string").alias("sum_k2"),
    )


def right_degree_histogram(
    edges: DataFrame, left_col: str, right_col: str
) -> DataFrame:
    """Wedge-join sizing probe → (rd, n_rights, wedges): how many right
    nodes have each degree, and the rd² join rows they will emit. The
    wedge join's cost is exactly Σ wedges, so this ONE histogram is
    what a 100 TB link-prediction run is sized from (the zwe dedup
    funnel's counterpart) — and it is what the auto hub guard reads to
    decide whether the degree distribution has supernode outliers.
    Distinct degree values bound the output (≤ max degree), so it is
    always driver-collectable."""
    e = edges.select(
        F.col(left_col).alias("l"), F.col(right_col).alias("r")
    ).distinct()
    return (
        e.groupBy("r")
        .agg(F.count(F.lit(1)).alias("rd"))
        .groupBy("rd")
        .agg(F.count(F.lit(1)).alias("n_rights"))
        .select(
            "rd",
            "n_rights",
            (F.col("rd") * F.col("rd") * F.col("n_rights")).alias("wedges"),
        )
    )


# `common_neighbor_links`'s auto hub guard: a right node is a hub when
# its degree exceeds max(HUB_FLOOR, HUB_RATIO × median right degree)
HUB_FLOOR = 64
HUB_RATIO = 16


def _auto_hub_cap(hist: list, floor: int, ratio: int) -> int:
    """Data-driven supernode cap from a (rd, n_rights) histogram: rights
    whose degree exceeds max(floor, ratio × median degree) are hubs.
    Median is by right-node count (the typical right), so a handful of
    hot keys cannot drag the cap up with them."""
    total = sum(r["n_rights"] for r in hist)
    acc = 0
    median = 1
    for r in sorted(hist, key=lambda r: r["rd"]):
        acc += r["n_rights"]
        if acc * 2 >= total:
            median = r["rd"]
            break
    return max(floor, ratio * median)


def _pair_count_local_arrow(
    e: DataFrame,
    min_pair: int,
    min_left_degree: int | None = None,
    with_degrees: bool = False,
) -> DataFrame:
    """Small-graph execution of the bipartite WEDGE pair count (shared
    by `common_neighbor_links` and `cooccurrence_pairs`): over a
    (l, r) edge list, count for every unordered pair of LEFT nodes the
    number of shared RIGHT neighbors, entirely in ONE Arrow task — the
    same one-task posture as `_triangle_local_arrow`, gated by the
    caller on measured wedge volume (Σ_r deg(r)²), never edge bytes.

    Pure numpy: encode each id column on its own (`_encode_ids`; the
    two columns may differ in type), dedupe (l, r) (a NULL r keeps its
    own slot so LEFT degrees still count it, like the distributed
    groupBy — NULL l rows are dropped, as the distributed pair/degree
    joins drop them), optionally a-priori-prune left nodes below
    `min_left_degree` (support is anti-monotone, the market-basket
    prune), then expand each right block's i<j pairs in bounded chunks
    and aggregate with one np.unique.

    Output: (x, y, common[, deg_x, deg_y]) with x < y in VALUE order
    (left codes are value-ordered) and ids typed like the left column;
    `common` ≥ min_pair; degrees are per-left-node distinct-(l, r)-row
    counts over the edge set as given (post hub-cap when the caller
    capped). NULL rights never pair (the distributed equi-join
    behaviour) but DO count toward degrees."""
    import numpy as np
    import pyarrow as pa

    out_t = e.schema["l"].dataType.simpleString()
    out_schema = f"x {out_t}, y {out_t}, common long"
    if with_degrees:
        out_schema += ", deg_x long, deg_y long"

    def run(batches):
        bl = list(batches)
        if not bl:
            return
        t = pa.Table.from_batches(bl)
        if t.num_rows == 0:
            return
        (lc,), ul = _encode_ids(t.column("l"))
        (rc,), ur = _encode_ids(t.column("r"))
        keep_l = lc >= 0
        lc, rc = lc[keep_l], rc[keep_l]
        n_l = max(len(ul), 1)
        n_r1 = len(ur) + 1  # one extra slot so NULL r (code −1) survives
        # distinct (l, r); the combined key is exact while n_l·(n_r+1)
        # < 2^63 — guaranteed by the caller's broadcast-size gate
        key = np.unique(lc * n_r1 + (rc + 1))
        lc, rc = key // n_r1, key % n_r1 - 1
        deg = np.bincount(lc, minlength=n_l).astype(np.int64)
        if min_left_degree and min_left_degree > 1:
            keep = deg[lc] >= min_left_degree
            lc, rc = lc[keep], rc[keep]
        pairable = rc >= 0
        lcp, rcp = lc[pairable], rc[pairable]
        order = np.argsort(rcp, kind="stable")
        ls, rs = lcp[order], rcp[order]
        m = len(rs)
        chunks = [np.empty(0, dtype=np.int64)]
        if m:
            new_blk = np.r_[True, rs[1:] != rs[:-1]]
            blk_starts = np.flatnonzero(new_blk)
            starts = blk_starts[np.cumsum(new_blk) - 1]
            pj = np.arange(m) - starts  # row's position within its block
            cum = np.cumsum(pj)
            chunk_rows = 8_000_000
            lo = 0
            while lo < m:
                base = int(cum[lo - 1]) if lo else 0
                hi = int(np.searchsorted(cum, base + chunk_rows, "right"))
                hi = min(max(hi, lo + 1), m)
                cnt = pj[lo:hi]
                tot = int(cnt.sum())
                if tot:
                    j_side = np.repeat(ls[lo:hi], cnt)
                    lcum = np.cumsum(cnt) - cnt
                    idx = np.repeat(starts[lo:hi], cnt) + (
                        np.arange(tot) - np.repeat(lcum, cnt)
                    )
                    i_side = ls[idx]
                    a = np.minimum(i_side, j_side)
                    b = np.maximum(i_side, j_side)
                    chunks.append(a * n_l + b)
                lo = hi
        uk, counts = np.unique(np.concatenate(chunks), return_counts=True)
        if min_pair and min_pair > 1:
            sel = counts >= min_pair
            uk, counts = uk[sel], counts[sel]
        ca, cb = uk // n_l, uk % n_l
        cols = {
            "x": _decode_ids(ul, ca),
            "y": _decode_ids(ul, cb),
            "common": pa.array(counts, pa.int64()),
        }
        if with_degrees:
            cols["deg_x"] = pa.array(deg[ca], pa.int64())
            cols["deg_y"] = pa.array(deg[cb], pa.int64())
        yield pa.RecordBatch.from_pydict(cols)

    return e.coalesce(1).mapInArrow(run, out_schema)


def common_neighbor_links(
    edges: DataFrame,
    left_col: str,
    right_col: str,
    min_common: int = 2,
    max_right_degree: int | None = None,
    hub_guard: str = "auto",
    guard_stats: dict | None = None,
    tier_stats: dict | None = None,
) -> DataFrame:
    """Link prediction by common-neighbor counting over a bipartite
    graph → (node_a, node_b, common, deg_a, deg_b) for unordered left-
    node pairs sharing ≥ min_common right neighbors; Jaccard =
    common / (deg_a + deg_b − common) is left to the caller as an exact
    integer fraction. (Recommend-similar-suppliers / related-documents
    via shared entities — the wedge-count companion of `co_spend_pairs`.)

    Cost is Σ_r deg(r)² over right nodes — the wedge join, never
    all-pairs. On a SKEW-FREE degree distribution that cost is
    inherent: every wedge is a genuine common-neighbor contribution,
    and the lossless prefix-filter alternative measurably LOSES there
    (SCALE.md round-9 batch 7) — so uniform-degree volume is accepted
    policy, sized up front via `right_degree_histogram`. What is NOT
    accepted is a supernode: a right shared by thousands of lefts
    contributes quadratic pairs and near-zero signal (Adamic-Adar
    discounts it to ~1/log d), and one hot key can dominate the whole
    job — the same hot-key posture as the reference's SuperNodeMvMap
    (SuperNodeMvMap.scala:18). The default `hub_guard="auto"` therefore
    drops only degree OUTLIERS: rights with degree >
    max(HUB_FLOOR, HUB_RATIO × median degree) (module constants 64 and
    16). On a skew-free graph no right crosses that line and auto ==
    exact (a test pins this); on a hot-key graph the guard trips and the dropped
    hubs are logged with their wedge volume. `hub_guard="off"` is the
    exactness escape hatch; an explicit `max_right_degree` cap takes
    precedence over both. Because the auto guard CHANGES results when
    it trips, pass `guard_stats={}` to observe it in-band (r10 ADVICE —
    a results-changing default must not be log-only): the dict is
    filled with {"tripped", "cap", "dropped_rights", "dropped_wedges",
    "total_wedges"} as soon as the probe runs, so callers can assert
    tripped is False or record the dropped volume next to the results.
    Distinct edges first, then degrees via one hash-agg, wedge
    equi-join on the right key, and a final (a, b) hash-agg."""
    # Pre-seed the observability dict so EVERY exit path leaves it
    # total (r11 ADVICE: with empty edges, streaming input, an explicit
    # max_right_degree, or hub_guard='off' the auto probe never runs —
    # a caller following the docstring's `assert tripped is False` must
    # not KeyError). The probe overwrites these when it runs.
    if guard_stats is not None:
        guard_stats.update(
            tripped=False,
            cap=max_right_degree,
            dropped_rights=0,
            dropped_wedges=0,
            total_wedges=0,
        )
    e = edges.select(
        F.col(left_col).alias("l"), F.col(right_col).alias("r")
    ).distinct()
    # materialize the deduped edge table ONCE, before anything reads it:
    # it is consumed up to FOUR times (auto-guard probe, degrees, both
    # wedge sides), and lazily each consumer re-executes the upstream
    # fact-table join + distinct (the d04 simhash lesson, dedup.py:631).
    # Edge-dim rows are 2 longs — cheap.
    if not e.isStreaming:
        e = e.localCheckpoint(eager=True)
    cap = max_right_degree
    hist = None
    if cap is None and hub_guard == "auto" and not e.isStreaming:
        hist = (
            e.groupBy("r")
            .agg(F.count(F.lit(1)).alias("rd"))
            .groupBy("rd")
            .agg(F.count(F.lit(1)).alias("n_rights"))
            .collect()
        )
        if hist:
            auto_cap = _auto_hub_cap(hist, HUB_FLOOR, HUB_RATIO)
            hubs = [r for r in hist if r["rd"] > auto_cap]
            if guard_stats is not None:
                guard_stats.update(
                    tripped=bool(hubs),
                    cap=auto_cap,
                    dropped_rights=sum(r["n_rights"] for r in hubs),
                    dropped_wedges=sum(
                        r["rd"] ** 2 * r["n_rights"] for r in hubs
                    ),
                    total_wedges=sum(
                        r["rd"] ** 2 * r["n_rights"] for r in hist
                    ),
                )
            if hubs:
                cap = auto_cap
                import logging

                logging.getLogger(__name__).warning(
                    "common_neighbor_links hub guard: dropping %d right "
                    "nodes with degree > %d (%d of %d wedge-join rows); "
                    "hub_guard='off' for the exact form",
                    sum(r["n_rights"] for r in hubs),
                    auto_cap,
                    sum(r["rd"] ** 2 * r["n_rights"] for r in hubs),
                    sum(r["rd"] ** 2 * r["n_rights"] for r in hist),
                )
    if cap is not None:
        ok = (
            e.groupBy("r")
            .agg(F.count(F.lit(1)).alias("rd"))
            .filter(F.col("rd") <= cap)
            .select("r")
        )
        e = e.join(ok, "r", "left_semi")
        # the guarded edge set is re-read three times below; pin it too
        # so the semi-join runs once (it sits on the checkpointed base,
        # so this re-pin is one cheap local pass)
        if not e.isStreaming:
            e = e.localCheckpoint(eager=True)
    # ---- small-graph one-Arrow-task tier (r12): gate on measured ----
    # WEDGE volume, never edge bytes — the z42 triangle posture. The
    # auto hub-guard histogram already collected is reused for the
    # probe (respecting the cap: capped-away hubs contribute nothing),
    # so on the auto path the gate costs ZERO extra jobs; with an
    # explicit cap / hub_guard='off' one Σdeg² aggregate runs over the
    # checkpointed edge dim. At 100 TB the free materialized-size
    # check refuses instantly and the distributed wedge join below is
    # untouched. local == distributed is property-pinned (null
    # endpoints, duplicate edges, string ids, ids past 2^53).
    use_local = False
    wedge_vol = None
    budget = sizing.PAIRS_WEDGE_BUDGET
    if hist is not None:
        # the auto-guard histogram is already on the driver — derive
        # the wedge volume from it unconditionally (free); it sizes
        # both the tier gate below and the distributed join's fan-out
        # repartition (r13)
        wedge_vol = sum(
            r["rd"] ** 2 * r["n_rights"]
            for r in hist
            if cap is None or r["rd"] <= cap
        )
    if sizing.one_task_ok(e):
        if wedge_vol is None:
            wedge_vol = sizing.wedge_volume(e, "r")
        use_local = wedge_vol is not None and wedge_vol <= budget
    if tier_stats is not None:
        tier_stats.update(local=use_local, wedges=wedge_vol, budget=budget)
    if use_local:
        e2, restore = _arrow_ids(e)
        if e2 is not None:
            raw = _pair_count_local_arrow(
                e2, min_pair=min_common, with_degrees=True
            )
            return restore(raw, ["x", "y"]).select(
                F.col("x").alias("node_a"),
                F.col("y").alias("node_b"),
                "common",
                F.col("deg_x").alias("deg_a"),
                F.col("deg_y").alias("deg_b"),
            )
        if tier_stats is not None:
            tier_stats["local"] = False
    deg = e.groupBy("l").agg(F.count(F.lit(1)).alias("deg"))
    if sizing.broadcast_ok(e):
        # deg is an aggregate of the checkpointed edge dim with ≤ e's
        # rows; unhinted, the planner SMJs both final joins (r13:
        # interleaved A/B ~0.1-0.2 s and two exchanges+sorts fewer)
        deg = F.broadcast(deg)
    a = e.select("r", F.col("l").alias("node_a"))
    b = e.select("r", F.col("l").alias("node_b"))
    if wedge_vol:
        # the wedge join's OUTPUT is wedge_vol rows from an edge-dim
        # input: repartition both sides by the join key so the fan-out
        # spreads over measured-volume-sized partitions instead of the
        # ~1 task AQE coalesces the tiny input to (the join reuses this
        # partitioning — no extra exchange; see sizing.fanout_partitions)
        n_w = sizing.fanout_partitions(edges.sparkSession, wedge_vol)
        a = a.repartition(n_w, "r")
        b = b.repartition(n_w, "r")
    pairs = (
        a.join(b, "r")
        .filter(F.col("node_a") < F.col("node_b"))
        .groupBy("node_a", "node_b")
        .agg(F.count(F.lit(1)).alias("common"))
        .filter(F.col("common") >= min_common)
    )
    return (
        pairs.join(deg.withColumnRenamed("l", "node_a"), "node_a")
        .withColumnRenamed("deg", "deg_a")
        .join(deg.withColumnRenamed("l", "node_b"), "node_b")
        .withColumnRenamed("deg", "deg_b")
        .select("node_a", "node_b", "common", "deg_a", "deg_b")
    )


def cooccurrence_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int,
    tier_stats: dict | None = None,
) -> DataFrame:
    """Frequent item PAIRS by basket co-occurrence → (item_a, item_b,
    n_baskets), support ≥ min_support — the market-basket / feature-
    co-occurrence primitive (event types that fire together per user);
    `common_neighbor_links` with items as left nodes and baskets as
    right nodes.

    A-priori pruning keeps the self-join bounded: an item in a frequent
    pair is itself frequent (support is anti-monotone), so items below
    min_support are dropped BEFORE pairing — the wedge join then costs
    Σ|basket ∩ frequent|², not Σ|basket|². Distinct-first (multiset →
    set per basket), equi-join on the basket key, item_a < item_b for
    one row per unordered pair.

    The one-Arrow-task tier is gated: the raw (item, basket) projection
    is pinned unless its plan estimate already refuses (`sizing.one_task_refused` — at 100 TB file
    statistics refuse and the lazy distributed plan below is returned
    untouched), then its pinned bytes must pass `sizing.one_task_ok`
    and a one-aggregate Σ per-basket-rows² probe over the RAW rows (an
    overestimate of the deduped wedge volume) must stay within
    `sizing.PAIRS_WEDGE_BUDGET`. When taken, the WHOLE pipeline —
    distinct, a-priori prune, pair expansion, support threshold — runs
    inside `_pair_count_local_arrow`, property-pinned equal to the
    distributed path. Pass `tier_stats={}` to observe {"local",
    "wedges", "budget"}."""
    e_raw = df.select(
        F.col(item_col).alias("l"), F.col(basket_col).alias("r")
    )
    use_local = False
    wedge_vol = None
    budget = sizing.PAIRS_WEDGE_BUDGET
    if not e_raw.isStreaming and not sizing.one_task_refused(e_raw):
        # probe, kernel AND the distributed fallback all re-read these
        # rows; unpinned, each re-executed the source scan (r12: auto
        # path 3.6 s vs 1.6 s forced-local at sf0.1)
        e_raw = e_raw.localCheckpoint(eager=True)
        if sizing.one_task_ok(e_raw):
            wedge_vol = sizing.wedge_volume(e_raw, "r")
            use_local = wedge_vol is not None and wedge_vol <= budget
    if tier_stats is not None:
        tier_stats.update(local=use_local, wedges=wedge_vol, budget=budget)
    if use_local:
        e2, restore = _arrow_ids(e_raw)
        if e2 is not None:
            raw = _pair_count_local_arrow(
                e2,
                min_pair=min_support,
                min_left_degree=min_support,
                with_degrees=False,
            )
            # the kernel emits x < y in value order
            return restore(raw, ["x", "y"]).select(
                F.col("x").alias("item_a"),
                F.col("y").alias("item_b"),
                F.col("common").alias("n_baskets"),
            )
        if tier_stats is not None:
            tier_stats["local"] = False
    its = (
        e_raw.select(
            F.col("r").alias("b"), F.col("l").alias("i")
        ).distinct()
    )
    freq = (
        its.groupBy("i")
        .agg(F.count(F.lit(1)).alias("nf"))
        .filter(F.col("nf") >= min_support)
        .select("i")
    )
    pruned = its.join(F.broadcast(freq), "i", "left_semi")
    a = pruned.select("b", F.col("i").alias("item_a"))
    bdf = pruned.select("b", F.col("i").alias("item_b"))
    if wedge_vol:
        # measured fan-out: the pair join emits ≤ wedge_vol rows from a
        # tiny input — repartition by the basket key so AQE's
        # input-byte coalescing can't serialize the explosion into one
        # task (sizing.fanout_partitions)
        n_w = sizing.fanout_partitions(df.sparkSession, wedge_vol)
        a = a.repartition(n_w, "b")
        bdf = bdf.repartition(n_w, "b")
    return (
        a.join(bdf, "b")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_baskets"))
        .filter(F.col("n_baskets") >= min_support)
    )


def _kcore_local_arrow(e: DataFrame, k: int, max_rounds: int) -> DataFrame:
    """Small-graph execution of `kcore`: the whole peel in ONE Arrow
    task. The input is ONE row per undirected edge and the kernel
    mirrors it in numpy, so the Arrow ingest is half the mirrored
    multiset; ids are encoded by `_encode_ids`. On local mode each
    peel round otherwise costs a scheduled job of fixed latency. Exactly
    equal to the distributed loop, property-pinned, including its
    null-key semantics: a null endpoint contributes to ROUND-1 degrees
    (the groupBy counts every row) but its edges can never survive a
    semi-join (null never equi-matches), so null rows die in the first
    restriction and a null node can never reach the converged output.
    The convergence check is the same survivor-count-equality
    sequence, so the raise-past-max_rounds contract fires on exactly
    the same inputs."""
    import numpy as np
    import pyarrow as pa

    id_t = e.schema["a"].dataType.simpleString()
    schema = f"v {id_t}, deg long"

    def run(batches):
        bl = list(batches)
        if not bl:
            return
        t = pa.Table.from_batches(bl)
        if t.num_rows == 0:
            return
        (a_c, b_c), uniques = _encode_ids(t.column("a"), t.column("b"))
        null_idx = len(uniques)  # one sentinel slot: counts in degrees,
        # never in semi-joins
        a_idx = np.where(a_c < 0, null_idx, a_c)
        b_idx = np.where(b_c < 0, null_idx, b_c)
        a_idx, b_idx = (
            np.concatenate([a_idx, b_idx]),
            np.concatenate([b_idx, a_idx]),
        )
        n = null_idx + 1
        alive = np.ones(len(a_idx), dtype=bool)
        prev = None
        for _ in range(max_rounds):
            deg = np.bincount(a_idx[alive], minlength=n).astype(np.int64)
            # the distributed surv is rows OF the degree table (nodes
            # appearing as 'a'), so zero-degree nodes are never members
            # even when k <= 0
            surv = (deg >= k) & (deg >= 1)
            n_surv = int(surv.sum())
            if n_surv == prev or n_surv == 0:
                vs = np.flatnonzero(surv)
                yield pa.RecordBatch.from_pydict(
                    {
                        "v": _decode_ids(
                            uniques, np.where(vs == null_idx, -1, vs)
                        ),
                        "deg": pa.array(deg[vs], pa.int64()),
                    }
                )
                return
            prev = n_surv
            surv[null_idx] = False  # null never equi-matches
            alive &= surv[a_idx] & surv[b_idx]
        # non-convergence: a raise here would surface as an opaque
        # PythonException — emit a sentinel row (deg < 0 is impossible
        # for a count) and let the driver raise the contract's
        # RuntimeError
        yield pa.RecordBatch.from_pydict(
            {
                "v": pa.nulls(1, uniques.type),
                "deg": pa.array([-1], pa.int64()),
            }
        )

    return e.coalesce(1).mapInArrow(run, schema)


def kcore(
    edges: DataFrame,
    k: int,
    src: str = "a",
    dst: str = "b",
    max_rounds: int = 10,
) -> DataFrame:
    """k-core decomposition membership via iterative peeling →
    (v, deg): the maximal subgraph in which every node keeps degree
    ≥ k, with each survivor's degree INSIDE the core. The standard
    cohesion filter (spam rings, dense co-purchase clusters) the
    one-shot degree filter gets wrong — removing a low-degree node can
    cascade, so deg ≥ k must be re-checked against the SHRUNKEN graph
    until fixed point.

    Spark shape per round: one hash-agg for degrees + two semi-joins to
    restrict the edge set; survivor/edge tables are checkpointed per
    round (lineage stays O(1), the components posture). Convergence is
    a count equality — the survivor set shrinks monotonically, so equal
    counts imply equal sets, no anti-join needed. Rounds are bounded by
    the peel depth (typically a handful; worst case the degeneracy
    ordering length) — raises past `max_rounds` rather than silently
    truncating, because a truncated peel returns a SUPERSET of the
    core. Input is one row per undirected edge; mirrored internally.

    Small-graph tier: when the materialized edge table passes
    `sizing.one_task_ok`, the whole peel runs in ONE Arrow task
    (`_kcore_local_arrow`, the pagerank posture) — bit-exact,
    property-pinned against the distributed peel."""
    one = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # the sizing count doubles as the checkpoint's materializing action
    # (r13: ONLY the one-direction table is ever materialized — the
    # kernel mirrors internally, and the distributed union below is a
    # narrow recompute over the checkpoint, so the former 2× union
    # materialization + second cached copy are gone). A tiny graph then
    # peels single-partition — coalesce(1) makes SinglePartition
    # planner-visible, so every round's agg + semi-joins run
    # exchange-free in one task instead of 32-task waves (the
    # pagerank_int posture; each scheduled job costs ~0.4 s of fixed
    # driver latency on local mode regardless of data size). The
    # mirrored multiset is exactly 2× the one-direction rows.
    single = 2 * one.count() <= 100_000
    # the one-task tier is gated on BYTES (the local-tier budget), not
    # the stricter 100k single-partition row gate: a 500k-edge peel is
    # still tens of MB — trivially one task's work, while the
    # distributed loop pays per-round scheduled jobs for it. The kernel
    # ingests the ONE-DIRECTION table and mirrors in numpy, so the
    # budget compares that table's materialized bytes directly (no ×2)
    # — deserialized checkpoint rows already run ~3× columnar, erring
    # conservative (zyf1's 599k-edge graph reads 50 MB here vs ~15 MB
    # columnar).
    if sizing.one_task_ok(one):
        e2, restore = _arrow_ids(one)
        if e2 is not None:
            out = _kcore_local_arrow(e2, k, max_rounds).localCheckpoint(
                eager=True
            )
            if out.filter(F.col("deg") < 0).limit(1).count():
                raise RuntimeError(
                    f"k-core did not converge within {max_rounds} rounds"
                    " — raise max_rounds (a truncated peel would return"
                    " a core SUPERSET)"
                )
            return restore(out, ["v"])
        # exotic id types: fall through to the distributed peel
    e = one.unionByName(
        one.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    if single:
        e = e.coalesce(1)
    prev_n = None
    for _ in range(max_rounds):
        deg = e.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
        # lazy checkpoints: the survivor count materializes surv AND
        # (through deg → e) the previous round's edge checkpoint, so
        # each round schedules ONE job instead of three
        surv = deg.filter(F.col("d") >= k).localCheckpoint(eager=False)
        if single:
            surv = surv.coalesce(1)
        n = surv.count()
        if n == prev_n or n == 0:
            return surv.select(F.col("a").alias("v"), F.col("d").alias("deg"))
        prev_n = n
        sv = surv.select("a")
        e = (
            e.join(sv, "a", "left_semi")
            .join(sv.withColumnRenamed("a", "b"), "b", "left_semi")
            .localCheckpoint(eager=False)
        )
        if single:
            e = e.coalesce(1)
    raise RuntimeError(
        f"k-core did not converge within {max_rounds} rounds — raise "
        "max_rounds (a truncated peel would return a core SUPERSET)"
    )
