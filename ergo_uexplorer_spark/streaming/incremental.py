"""Incremental chain sync (SURVEY §2.1 S7/S10, §2.3 C3-C5, C10).

The reference's periodic scheduler indexes new blocks into H2+MVStore
with per-block transactions and version-based rollback
(StreamScheduler.scala:25-64, MvStorage commit/rollbackTo). The Spark
shape is Structured Streaming over arriving block files with
`foreachBatch` applying each micro-batch through the scheduler's branch
resolution (`apply_block_batch_forkaware`; a winning fork first rolls
back below its divergence), then the UTXO delta:

    utxo' = (utxo ∪ batch_outputs) ∖ batch_spent_inputs

On Delta-capable storage this is `MERGE INTO utxo` + `RESTORE VERSION
AS OF` (SCALE.md); this module implements the same contract on plain
parquet with versioned DELTA directories (`VersionedDirs`) — each
commit writes O(batch) rows, a periodic compaction materializes a full
base snapshot, and reads reconstruct base ∪ deltas ∖ spends. The
optional token rollup (`token_rollup.TokenStatsRollup`) rides the same
versions, as the reference's BlockWriter updates its token tables in
the block's transaction.
"""
from __future__ import annotations

import json
import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import normalize as N
from ..operators.utxo import spent_inputs
from ..sources.blocks import BLOCK_SCHEMA

KEEP_VERSIONS = 10  # MvStorage.scala:298
COMPACT_EVERY = 10  # BlockWriter.scala:79-83 compaction cadence analog


class VersionedDirs:
    """Numbered version dirs `{state_dir}/{subdir}/v{n}` with atomic
    publish (tmp dir + rename), an exactly-once `_batch_id` marker,
    compaction on a cadence, pruning behind the retained rollback window
    and rollback by dropping newer versions. Subclasses name their
    `subdir` and define `read(version)`, the full snapshot that
    compaction materializes."""

    subdir: str

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        compact_every: int = COMPACT_EVERY,
        keep_versions: int = KEEP_VERSIONS,
    ):
        self.spark = spark
        self.dir = os.path.join(state_dir, self.subdir)
        self.compact_every = compact_every
        self.keep_versions = keep_versions
        os.makedirs(self.dir, exist_ok=True)

    def _vdir(self, v: int) -> str:
        return os.path.join(self.dir, f"v{v}")

    def _has_base(self, v: int) -> bool:
        return os.path.exists(os.path.join(self._vdir(v), "base"))

    def versions(self) -> list[int]:
        return sorted(
            int(d[1:]) for d in os.listdir(self.dir) if d.startswith("v")
        )

    def current_version(self) -> int:
        vs = self.versions()
        return vs[-1] if vs else 0

    def batch_version(self, batch_id: int) -> int | None:
        """Version already published for a streaming batch id, if any."""
        for v in self.versions():
            marker = os.path.join(self._vdir(v), "_batch_id")
            if os.path.exists(marker):
                with open(marker) as f:
                    if f.read().strip() == str(batch_id):
                        return v
        return None

    def _chain(
        self, version: int | None
    ) -> tuple[DataFrame | None, list[str]] | None:
        """(the newest base snapshot at or below `version`, None for
        none; the dirs of the versions above it up to `version`) — what a
        read at `version` reconstructs from. None before the first
        commit."""
        v = self.current_version() if version is None else version
        vs = [x for x in self.versions() if x <= v]
        if not vs:
            return None
        b = max((x for x in vs if self._has_base(x)), default=0)
        base = (
            self.spark.read.parquet(os.path.join(self._vdir(b), "base"))
            if b
            else None
        )
        return base, [self._vdir(x) for x in vs if x > b]

    def _publish(
        self, write: Callable[[str], None], batch_id: int | None
    ) -> int:
        """Publish the next version: `write(tmp_dir)` fills it, the
        rename makes it visible, then (on the compaction cadence) the
        full `read` is materialized as `base/` and the versions the
        retained window no longer needs are pruned.

        `batch_id` makes the publish EXACTLY-ONCE under foreachBatch
        redelivery: Structured Streaming re-runs the last micro-batch
        after a crash between the sink write and the checkpoint commit,
        so the id is recorded inside the version dir (same atomic
        rename) and a replay returns the already-published version. A
        crash between the rename and the base write only lengthens the
        delta chain, never corrupts."""
        if batch_id is not None:
            existing = self.batch_version(batch_id)
            if existing is not None:
                return existing
        v = self.current_version() + 1
        tmp = os.path.join(self.dir, f".tmp_v{v}")
        write(tmp)
        if batch_id is not None:
            with open(os.path.join(tmp, "_batch_id"), "w") as f:
                f.write(str(batch_id))
        os.rename(tmp, self._vdir(v))
        if self.compact_every and v % self.compact_every == 0:
            tmp_base = os.path.join(self._vdir(v), ".tmp_base")
            self.read(v).write.mode("overwrite").parquet(tmp_base)
            os.rename(tmp_base, os.path.join(self._vdir(v), "base"))
        self._prune(v)
        return v

    def _prune(self, current: int) -> None:
        """Drop versions strictly older than the newest base that still
        covers the whole retained rollback window."""
        window_lo = current - self.keep_versions + 1
        bases = [
            x for x in self.versions() if self._has_base(x) and x <= window_lo
        ]
        if not bases:
            return
        cutoff = max(bases)
        for old in self.versions():
            if old < cutoff:
                shutil.rmtree(self._vdir(old), ignore_errors=True)

    def rollback_to(self, version: int) -> None:
        """S10 rollbackTo(rev): drop newer versions (fork recovery)."""
        for v in self.versions():
            if v > version:
                shutil.rmtree(self._vdir(v), ignore_errors=True)


class UtxoState(VersionedDirs):
    """Versioned UTXO state on plain parquet with **per-batch delta
    commits**: each version directory holds only the batch's rows —
    write volume is O(batch), never O(state). Layout of `utxo/v{n}/`:

        created/       parquet, the batch's new boxes (UTXO_COLS)
        spent/         parquet, spent box_id + spending block height
        base/          parquet, full snapshot (compacting versions only)
        _batch_id      streaming batch id (exactly-once marker)
        _tip           "height:block_id" of the version's chain tip
        _headers.json  {block_id: [height, parent_id]} of its blocks

    Reads reconstruct from the newest base plus a bounded delta chain:

        state(v) = (base(b) ∪ created(b+1..v)) ∖ spent(b+1..v)

    The sidecars are plain files read without Spark, so the sync's
    per-batch Spark work is three jobs on an extend (the header collect,
    the created write, the spent write; compaction adds the base write)
    and the header collect alone on a tie or orphan. Publishing,
    compaction, pruning and rollback are `VersionedDirs`'.
    """

    subdir = "utxo"

    def read(self, version: int | None = None) -> DataFrame | None:
        """Reconstruct the UTXO set at `version` from the newest base at
        or below it plus the (≤ compact_every + keep_versions) deltas
        above — a union + one anti-join, distributed end to end."""
        chain = self._chain(version)
        if chain is None:
            return None
        base_df, above = chain
        if not above:
            return base_df
        created = self.spark.read.parquet(
            *[os.path.join(d, "created") for d in above]
        )
        merged = (
            created if base_df is None else base_df.unionByName(created)
        ).dropDuplicates(["box_id"])
        spent = self.spark.read.parquet(
            *[os.path.join(d, "spent") for d in above]
        ).select("box_id")
        return merged.join(spent, "box_id", "left_anti")

    def tip(self, version: int | None = None) -> tuple[int, str] | None:
        """(height, block_id) recorded at `version` (default: newest
        version carrying one) — the chain cursor the fork-aware
        scheduler compares branches against."""
        v = self.current_version() if version is None else version
        for x in reversed([y for y in self.versions() if y <= v]):
            marker = os.path.join(self._vdir(x), "_tip")
            if os.path.exists(marker):
                with open(marker) as f:
                    h, _, bid = f.read().strip().partition(":")
                return int(h), bid
        return None

    def _headers(self, v: int) -> dict[str, tuple[int, str]]:
        """Version `v`'s `_headers.json` sidecar ({} when committed
        without headers, e.g. by a direct `commit`)."""
        vdir = self._vdir(v)
        path = os.path.join(vdir, "_headers.json")
        if os.path.exists(path):
            with open(path) as f:
                return {b: (h, p) for b, (h, p) in json.load(f).items()}
        if os.path.exists(os.path.join(vdir, "headers")):
            # reading it as header-less would empty the fork window and
            # skip every later batch as an orphan
            raise RuntimeError(
                f"{vdir} holds a `headers/` parquet table but no "
                "`_headers.json` sidecar (pre-sidecar state layout) — "
                "rebuild the state to resume fork-aware sync"
            )
        return {}

    def applied_headers(self) -> dict[str, tuple[int, str]]:
        """{block_id: (height, parent_id)} over the RETAINED versions'
        header sidecars — the bounded recent-chain cache the reference's
        scheduler keeps in memory (C1): fork depth beyond the retention
        window is unrecoverable anyway, so this never grows O(chain)."""
        out: dict[str, tuple[int, str]] = {}
        for v in self.versions():
            out.update(self._headers(v))
        return out

    def commit(
        self,
        created: DataFrame,
        spent: DataFrame,
        batch_id: int | None = None,
        headers: dict[str, tuple[int, str]] | None = None,
        tip: tuple[int, str] | None = None,
    ) -> int:
        """O(batch) delta commit: write the batch's created rows and
        spent box-ids plus the header/tip sidecars into the next version
        (atomic, exactly-once via `batch_id` — `VersionedDirs._publish`;
        the reference gets this from MVStore's transactional per-block
        commit)."""
        # keep the spending block's height alongside the id: reads only
        # ever project box_id, but a mid-version fork rollback must split
        # a version's spends at the divergence height (see deltas_above)
        spent_cols = ["box_id"] + (
            ["height"] if "height" in spent.columns else []
        )

        def write(tmp: str) -> None:
            created.write.mode("overwrite").parquet(
                os.path.join(tmp, "created")
            )
            spent.select(*spent_cols).write.mode("overwrite").parquet(
                os.path.join(tmp, "spent")
            )
            if headers is not None:
                with open(os.path.join(tmp, "_headers.json"), "w") as f:
                    json.dump(headers, f)
            if tip is not None:
                with open(os.path.join(tmp, "_tip"), "w") as f:
                    f.write(f"{tip[0]}:{tip[1]}")

        return self._publish(write, batch_id)

    def deltas_above(
        self, version: int, below_height: int
    ) -> tuple[DataFrame, DataFrame, dict[str, tuple[int, str]]]:
        """(created, spent, headers) rows of the versions strictly above
        `version`, restricted to blocks BELOW `below_height` — the
        shared-ancestor slice a mid-version fork rollback must preserve
        (the divergence can fall inside a multi-block version, so the
        rolled-back versions hold blocks the arriving branch never
        re-supplies). The frames are eagerly materialized
        (localCheckpoint) so the caller may delete the source version
        dirs immediately after; volume is bounded by the retained
        rollback window, never O(state)."""
        vs = [v for v in self.versions() if v > version]
        headers = {
            b: hp
            for v in vs
            for b, hp in self._headers(v).items()
            if hp[0] < below_height
        }
        cdirs = [os.path.join(self._vdir(v), "created") for v in vs]
        sdirs = [os.path.join(self._vdir(v), "spent") for v in vs]
        created = self.spark.read.parquet(*cdirs).filter(
            F.col("height") < below_height
        )
        # mergeSchema: a state dir upgraded mid-stream can hold both
        # height-attributed and pre-upgrade spent files; without the
        # merge the schema is inferred from ONE file, and pre-upgrade
        # rows would read height=NULL and silently drop out of the
        # preserved slice (resurrecting their spent boxes)
        spent = self.spark.read.option("mergeSchema", "true").parquet(*sdirs)
        if "height" not in spent.columns:
            raise RuntimeError(
                "fork diverges inside a version but its spent deltas are "
                "not height-attributed (pre-upgrade state) — cannot split "
                "the version at the divergence"
            )
        if spent.filter(F.col("height").isNull()).limit(1).count():
            raise RuntimeError(
                "fork diverges inside a version whose retained window "
                "mixes pre-upgrade (height-less) spent deltas — cannot "
                "split those versions at the divergence"
            )
        spent = spent.filter(F.col("height") < below_height)
        return (
            created.localCheckpoint(eager=True),
            spent.localCheckpoint(eager=True),
            headers,
        )


UTXO_COLS = (
    "box_id",
    "tx_id",
    "block_id",
    "height",
    "creation_height",
    "value",
    "ergo_tree",
    "ergo_tree_hash",
    "ergo_tree_t8_hash",
    "address",
)


def _batch_delta(raw_batch: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(created, spent) rows of a block batch: its outputs with the tree
    columns in one projection (the rows `N.boxes` joins from the tree
    dimension, without the dimension's distinct and broadcast jobs;
    null-tree outputs drop out as in that inner join) and its spent
    box ids with the spending height."""
    out = N.outputs(raw_batch).filter(F.col("ergo_tree").isNotNull())
    created = N.with_tree_columns(out).select(*UTXO_COLS)
    spent = spent_inputs(N.inputs(raw_batch)).select("box_id", "height")
    return created, spent


def _commit(
    state: UtxoState,
    token_rollup,
    partials: DataFrame | None,
    created: DataFrame,
    spent: DataFrame,
    batch_id: int | None = None,
    **sidecars,
) -> int:
    """Commit the rollup's partials, then the state's delta, under one
    `batch_id`. Rollup first: a crash between the two writes leaves the
    rollup one version ahead holding the batch's marker, so the
    redelivered batch finds its rollup commit already published and
    commits only the state. Any other skew raises before the state
    write."""
    if token_rollup is not None:
        rv = token_rollup.commit(partials, batch_id=batch_id)
        if rv != state.current_version() + 1:
            raise RuntimeError(
                f"token rollup published version {rv} but the UTXO state "
                f"is at version {state.current_version()} — the two "
                "stores have diverged"
            )
    return state.commit(created, spent, batch_id=batch_id, **sidecars)


def apply_block_batch_forkaware(
    state: UtxoState,
    raw_batch: DataFrame,
    batch_id: int | None = None,
    token_rollup=None,
) -> int | None:
    """C3-C5 under streaming: the one per-batch UTXO application, with
    the reference scheduler's fork handling (StreamScheduler.scala:25-64,
    BlockWriter.scala:35-77 winning-branch semantics):

    - batch extends the tip (a linear stream's every batch) → plain
      O(batch) delta commit;
    - batch is a branch diverging below the tip → applied ONLY if its
      best linked tip is strictly higher than the current one (longest
      chain wins; the same-height incumbent keeps — first-seen-wins,
      BlockWriter.scala:66-69): `rollback_to` the newest version wholly
      below the divergence, then commit the branch's blocks from the
      divergence up as one new version. When the divergence falls in the
      MIDDLE of a multi-block version, the rolled-back versions' deltas
      below the divergence height are preserved and re-committed first
      (the branch never re-supplies shared-ancestor blocks);
    - losing / orphan branch, or blocks already applied → no-op
      (returns None); a replayed `batch_id` returns its version.

    `token_rollup` (a `token_rollup.TokenStatsRollup`) follows the same
    resolution at the same version numbers: both roll back to the same
    target, the rollup's preserved slice is re-committed next to the
    state's, and the winning slice's token partials are committed with
    the state's delta (see `_commit`). A rollback target outside the
    rollup's retained window raises.

    Driver-side work is O(|batch headers| + retained window): only the
    3-string header tuples are collected, never block bodies — the same
    bounded recent-chain cache the reference scheduler holds in memory.
    Fork depth beyond the rollback retention raises (the reference
    cannot rewind past its kept MVStore versions either)."""
    if batch_id is not None:
        existing = state.batch_version(batch_id)
        if existing is not None:
            return existing
    hdrs = {
        r["block_id"]: (r["height"], r["parent_id"])
        for r in N.headers(raw_batch)
        .select("block_id", "height", "parent_id")
        .collect()
    }
    if not hdrs:
        return None
    applied = state.applied_headers()
    cur_tip = state.tip()

    # best linked tip in the batch: walk parents through batch headers
    # until hitting an applied block (divergence anchor) or a chain root
    best: tuple[int, str, int] | None = None  # (tip_h, tip_id, diverge_h)
    for bid, (h, _p) in hdrs.items():
        if any(p == bid for (_hh, p) in hdrs.values()):
            continue  # not a tip within the batch
        node, anchor_child_h = bid, None
        seen = set()
        while node in hdrs and node not in seen:
            seen.add(node)
            nh, parent = hdrs[node]
            if parent in applied or nh == 1:
                anchor_child_h = nh
                break
            node = parent
        if anchor_child_h is None:
            continue  # orphan: parent chain leaves batch without anchoring
        if best is None or h > best[0]:
            best = (h, bid, anchor_child_h)
    if best is None:
        return None
    tip_h, tip_id, diverge_h = best
    # winning path ids from the tip down to the divergence (walked up
    # front: the divergence block's parent is the shared ancestor the
    # mid-version rollback below must restore the state floor to)
    path, node, ancestor_id = [], tip_id, None
    while node in hdrs:
        path.append(node)
        nh, parent = hdrs[node]
        if nh == diverge_h:
            ancestor_id = parent
            break
        node = parent
    if cur_tip is not None and diverge_h <= cur_tip[0]:
        # branch: strictly-longer wins, ties keep the incumbent
        if tip_h <= cur_tip[0]:
            return None
        target = None
        for v in state.versions():
            t = state.tip(v)
            if t is not None and t[0] < diverge_h:
                target = v
        if target is None and diverge_h > 1:
            raise RuntimeError(
                f"fork at height {diverge_h} is below the retained rollback "
                f"window — cannot rewind (reference keeps {KEEP_VERSIONS} "
                "versions too)"
            )
        if (
            token_rollup is not None
            and target is not None
            and target not in token_rollup.versions()
        ):
            raise RuntimeError(
                f"fork rollback target version {target} is outside the "
                "token rollup's retained window (its keep_versions="
                f"{token_rollup.keep_versions} is shorter than the state's)"
            )
        preserved = None
        if (
            target is not None
            and diverge_h > 1
            and state.tip(target)[0] != diverge_h - 1
        ):
            # the divergence falls INSIDE a version (e.g. versions cover
            # [1..7],[8..10] and the fork parent is block 9): rolling back
            # to the newest version below the divergence would also drop
            # the shared-ancestor blocks 8..9, which the arriving branch
            # does not re-supply. Preserve that sub-version slice and
            # re-commit it as the post-rollback floor, exactly as if the
            # version boundary had fallen on the divergence.
            preserved = state.deltas_above(target, diverge_h)
            kept_partials = (
                token_rollup.deltas_above(target, diverge_h)
                if token_rollup is not None
                else None
            )
        state.rollback_to(target or 0)
        if token_rollup is not None:
            token_rollup.rollback_to(target or 0)
        if preserved is not None:
            keep_created, keep_spent, keep_headers = preserved
            _commit(
                state,
                token_rollup,
                kept_partials,
                keep_created,
                keep_spent,
                headers=keep_headers,
                tip=(diverge_h - 1, ancestor_id),
            )
    if len(path) == len(hdrs):  # pure append: the whole batch wins
        win, win_hdrs = raw_batch, hdrs
    else:
        win = raw_batch.filter(F.col("header.id").isin(path))
        win_hdrs = {b: hdrs[b] for b in path}
    created, spent = _batch_delta(win)
    partials = None
    if token_rollup is not None:
        from .token_rollup import token_partials

        partials = token_partials(N.assets(N.outputs(win)))
    return _commit(
        state,
        token_rollup,
        partials,
        created,
        spent,
        batch_id=batch_id,
        headers=win_hdrs,
        tip=(tip_h, tip_id),
    )


def incremental_sync(
    spark: SparkSession,
    blocks_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    token_rollup=None,
):
    """C10: Structured Streaming over arriving block files; each
    micro-batch goes through `apply_block_batch_forkaware` (one UTXO
    version per applied batch; losing or orphan branches are skipped,
    winning ones roll back and re-apply). `Trigger.AvailableNow` drains
    the backlog then stops (the batch-catchup mode); leave it False for
    continuous tailing of a node dump directory.

    `token_rollup` (a `token_rollup.TokenStatsRollup`) additionally
    maintains the q15b top-tokens aggregate through the same branch
    resolution — the serving answer the r11 layout A/B named (SCALE.md:
    both disk layouts lose to a full scan; the rollup serves top-K from
    the token DIMENSION)."""
    state = UtxoState(spark, state_dir)
    stream = spark.readStream.schema(BLOCK_SCHEMA).json(blocks_dir)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        apply_block_batch_forkaware(
            state, batch_df, batch_id=batch_id, token_rollup=token_rollup
        )

    writer = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
