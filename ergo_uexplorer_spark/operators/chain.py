"""Stateful chain operators (SURVEY §2.3 C1-C3, C6-C8): main-chain
resolution, fork detection, chain audits.

Batch fork semantics: instead of the reference's imperative rollback
(BlockWriter.scala:26-77 — find losing blocks, rollbackTo(version),
re-insert winners), the main chain is a *deterministic recomputation*:
anchor at the best tip and walk `parentId` links. Contested regions are
bounded by protocol (the reference keeps a 100-block tip cache,
ChainLinker.scala:10-54; deeper reorgs are impossible to follow), so the
walk collects only the blocks at contested heights — a few hundred rows —
to the driver; every uncontested height is main-chain by construction.
Tie-break at equal height: lexicographically greatest blockId (documented
deterministic rule; the reference takes "latest seen", which a batch
engine cannot reproduce).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..constants import GENESIS_ID


def detect_forks(headers: DataFrame) -> DataFrame:
    """C6 (MvStorage.scala:231-251): heights carrying >1 block id."""
    return (
        headers.groupBy("height")
        .agg(F.collect_set("block_id").alias("block_ids"))
        .filter(F.size("block_ids") > 1)
        .select(
            "height",
            F.sort_array("block_ids").alias("block_ids"),
            F.size("block_ids").alias("n_blocks"),
        )
    )


def _fork_regions(headers: DataFrame):
    """Driver-side fork context, bounded by O(forks) — NOT O(chain).

    Returns (segments, rows) where segments are the maximal runs of
    contiguous contested heights and rows are the collected headers at
    contested heights PLUS the single anchor block one height above
    each segment. Every uncontested height has exactly one block, so
    the main chain necessarily passes through it — the winner inside a
    contested segment is fully determined by the parent pointer of the
    unique block just above it (or, for a segment containing the tip,
    by the best-tip tie-break). Nothing else needs to leave the
    executors."""
    # ONE aggregate, ONE driver round trip: every header is keyed under
    # its own height (a member) and under height - 1 (a possible anchor
    # of that height). A key is contested iff it has >1 member; its
    # group then holds the contested headers AND the headers one height
    # above, so the anchor above each segment comes back in the same
    # collect. Anchors are uncontested by construction (segments are
    # maximal runs), and a height inside a segment is both a member and
    # an anchor, so rows are de-duplicated below.
    height = F.col("height")
    groups = (
        headers.select(
            "block_id",
            "parent_id",
            "height",
            F.explode(F.array(height, height - 1)).alias("__k"),
        )
        .groupBy("__k")
        .agg(
            F.count_if(height == F.col("__k")).alias("__n"),
            F.collect_list(F.struct("block_id", "parent_id", "height")).alias(
                "__rows"
            ),
        )
        .filter("__n > 1")
        .collect()
    )
    contested = sorted(g["__k"] for g in groups)
    if not contested:
        return [], []
    rows = list(dict.fromkeys(r for g in groups for r in g["__rows"]))
    segments = []
    start = prev = contested[0]
    for h in contested[1:]:
        if h == prev + 1:
            prev = h
        else:
            segments.append((start, prev))
            start = prev = h
    segments.append((start, prev))
    return segments, rows


def resolve_main_chain(headers: DataFrame) -> DataFrame:
    """Adds `main_chain: boolean`. Each contested segment is resolved
    independently: walk parent links down from the segment's anchor (the
    unique block above it, or the best tip for the topmost segment —
    tie-break: lexicographically greatest block id, the documented
    deterministic rule). Driver memory/collect is O(forked blocks +
    segments); a historical fork at height 5 of a million-block chain
    collects ~5 rows, not the million."""
    segments, rows = _fork_regions(headers)
    if not segments:
        return headers.withColumn("main_chain", F.lit(True))

    by_h: dict[int, dict[str, str]] = {}
    for r in rows:
        by_h.setdefault(r["height"], {})[r["block_id"]] = r["parent_id"]

    winners: set[str] = set()
    for lo, hi in segments:
        above = by_h.get(hi + 1, {})
        if len(above) == 1:
            expected = next(iter(above.values()))  # anchor's parent id
        else:
            # segment reaches the tip (or a gap): deterministic best tip
            expected = max(by_h.get(hi, {}))
        for h in range(hi, lo - 1, -1):
            cand = by_h.get(h, {})
            if expected not in cand:
                if not cand:
                    break
                expected = max(cand)  # broken link: deterministic fallback
            winners.add(expected)
            expected = cand[expected]
            if expected == GENESIS_ID:
                break

    contested = [h for lo, hi in segments for h in range(lo, hi + 1)]
    # both lists are O(contested blocks): plain IN literals (an InSet
    # past Spark's conversion threshold), no literal frame and no join
    return headers.withColumn(
        "main_chain",
        F.when(
            F.col("height").isin(contested),
            F.coalesce(F.col("block_id").isin(sorted(winners)), F.lit(False)),
        ).otherwise(F.lit(True)),
    )


def missing_heights(headers: DataFrame) -> DataFrame:
    """C7 (MvStorage.scala:284-290): TreeSet(1..last) ∖ stored."""
    max_h = headers.agg(F.max("height").alias("m"))
    full = max_h.select(
        F.explode(F.sequence(F.lit(1), F.col("m"))).alias("height")
    )
    return full.join(headers.select("height").distinct(), "height", "left_anti")


def chain_tip(headers: DataFrame, n: int = 100) -> DataFrame:
    """C8 (MvStorage.scala:41-70): the last-n-heights tip window used to
    link incoming blocks (ChainLinker's FIFO cache, batch form)."""
    max_h = headers.agg(F.max("height")).collect()[0][0] or 0
    return headers.filter(F.col("height") > max_h - n)


class ChainIntegrityError(RuntimeError):
    """C9: persisted stores disagree about whether a chain exists."""


def initialize(blocks: DataFrame | None, utxo: DataFrame | None) -> dict:
    """C9 consistency initializer (indexer/chain/Initializer.scala:15-36).

    The reference compares its two persisted stores at startup — the
    block backend (H2/Cassandra) and the MVStore UTXO cache — and picks
    a sync mode:

      * both empty          → full sync from genesis
      * exactly one empty   → FAIL (ChainIntegrityError — a half-written
                              deployment; resuming would corrupt)
      * both nonempty       → resume above the lower of the two tips
                              (heights above the slower store are
                              re-applied idempotently)

    Here `blocks` is the persisted Block table and `utxo` the persisted
    UTXO snapshot (either may be None for "store absent"). Returns
    ``{"mode": "full_sync"|"resume", "from_height": int}``. The emptiness
    probes are `LIMIT 1` scans, not counts — O(1) at any scale.
    """
    blocks_empty = blocks is None or blocks.isEmpty()
    utxo_empty = utxo is None or utxo.isEmpty()
    if blocks_empty != utxo_empty:
        full, empty = (
            ("utxo", "blocks") if blocks_empty else ("blocks", "utxo")
        )
        raise ChainIntegrityError(
            f"{full} store is non-empty while {empty} store is empty — "
            "refusing to sync over an inconsistent deployment"
        )
    if blocks_empty:
        return {"mode": "full_sync", "from_height": 1}
    block_tip = blocks.agg(F.max("height")).collect()[0][0] or 0
    utxo_tip = utxo.agg(F.max("height")).collect()[0][0] or 0
    return {"mode": "resume", "from_height": min(block_tip, utxo_tip) + 1}


def assert_chained(headers_main: DataFrame) -> None:
    """hasParentAndIsChained (BlockWriter.scala:61-66): every main-chain
    block's parent is the main-chain block one height below."""
    h = headers_main.select("block_id", "parent_id", "height")
    parent = h.select(
        F.col("block_id").alias("parent_id"),
        (F.col("height") + 1).alias("height"),
    )
    broken = (
        h.filter(F.col("height") > 1)
        .join(parent, ["parent_id", "height"], "left_anti")
        .count()
    )
    if broken:
        raise AssertionError(f"{broken} main-chain blocks not parent-linked")
