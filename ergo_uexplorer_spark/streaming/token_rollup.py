"""Maintained top-K token rollup — q15b's 100 TB serving answer.

The r11 layout A/B (SCALE.md) measured both storage layouts LOSING to a
full scan for the hot top-tokens endpoint (flat 2.28 s, bucketed 3.17 s
from disk; 0.98 s from cache at the 1.9M-utxo anchor) and named the
real answer: don't scan the fact table at serve time at all — maintain
the aggregate incrementally as blocks arrive and serve top-K from the
token DIMENSION. The reference serves this from its Token/Asset2Box
tables, which its indexer maintains per block inside the same H2
transaction (BlockWriter.scala:35-77); this module is that contract on
the versioned parquet directories `UtxoState` also uses
(`incremental.VersionedDirs`).

Shape: one delta parquet per micro-batch, rows grouped by
(token_id, height) — `n_boxes` additivity across batches is exact
because a box is created whole in ONE block (its asset rows never span
batches) and box ids never repeat across blocks, so per-batch
`count_distinct(box_id)` partials sum to the global distinct count.
Height attribution makes a mid-version fork split exact (the same
`deltas_above` contract as UtxoState's spent rows). Reads reconstruct
base ∪ deltas with one tiny token-dim aggregation — O(tokens), never
O(assets) — and `top(k)` is the q15b endpoint. Exactly-once under
foreachBatch redelivery via the same `_batch_id` sidecar; rollback
drops version dirs. Under forks the rollup follows the UTXO state
through `incremental.apply_block_batch_forkaware`, which commits and
rolls back both at the same version numbers.

Reference parity: `top(k)` ≡ `stats.top_tokens_by_box_count(assets, k)`
over the full assets table — pinned by a stream==batch equality test.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .incremental import VersionedDirs

# the ANSWER is maintained, not just the aggregate: each commit also
# writes the current top-`SERVE_TOP_K` rows as a sidecar, so the hot
# endpoint is a ~100-row file scan (measured 0.44 s for the read+agg
# path vs ≤0.1 s from the sidecar at the 1.9M anchor — the agg path
# stays as the fallback and the source of truth for k > SERVE_TOP_K)
SERVE_TOP_K = 100


def token_partials(assets: DataFrame) -> DataFrame:
    """(token_id, height, n_boxes, total_amount) partials of asset rows
    — the rows one rollup version holds (see module docstring for why
    they sum exactly)."""
    return assets.groupBy("token_id", "height").agg(
        F.count_distinct("box_id").alias("n_boxes"),
        F.sum("amount").alias("total_amount"),
    )


class TokenStatsRollup(VersionedDirs):
    """Versioned incremental (token_id → n_boxes, total_amount) rollup
    on plain parquet: O(batch-tokens) delta commits, periodic compacted
    base, bounded reconstruction. See module docstring."""

    subdir = "token_stats"

    def commit(self, partials: DataFrame, batch_id: int | None = None) -> int:
        """O(batch) delta commit of `token_partials` rows (a batch's, or
        the preserved slice `deltas_above` returns), published with the
        shared version-dir contract (exactly-once via `batch_id`), plus
        the version's top-`SERVE_TOP_K` sidecar."""
        v = self._publish(
            lambda tmp: partials.write.mode("overwrite").parquet(
                os.path.join(tmp, "delta")
            ),
            batch_id,
        )
        side = os.path.join(self._vdir(v), "topk")
        # present already when a replayed batch id returned its version
        if not os.path.exists(side):
            tmp_top = os.path.join(self._vdir(v), ".tmp_topk")
            order = [F.desc("n_boxes"), F.asc("token_id")]
            (
                self.read(v)
                .orderBy(*order)
                .limit(SERVE_TOP_K)
                # row_number over ≤ k rows: the rank column makes the
                # sidecar self-describing (parquet row order is not a
                # contract)
                .withColumn(
                    "rank", F.row_number().over(Window.orderBy(*order))
                )
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(tmp_top)
            )
            os.rename(tmp_top, side)
        return v

    def deltas_above(self, version: int, below_height: int) -> DataFrame:
        """The (token_id, height) partials of versions strictly above
        `version` restricted below the divergence height — the
        shared-ancestor slice a mid-version fork rollback preserves
        (UtxoState.deltas_above's contract). Eagerly materialized so
        the caller may delete the source dirs."""
        vs = [v for v in self.versions() if v > version]
        dirs = [os.path.join(self._vdir(v), "delta") for v in vs]
        out = self.spark.read.parquet(*dirs).filter(
            F.col("height") < below_height
        )
        return out.localCheckpoint(eager=True)

    def read(self, version: int | None = None) -> DataFrame | None:
        """Totals at `version` → (token_id, n_boxes, total_amount):
        newest base at-or-below plus the bounded delta chain, one
        token-dim hash aggregate. O(tokens) rows end to end."""
        chain = self._chain(version)
        if chain is None:
            return None
        base_df, above = chain
        if not above:
            return base_df
        deltas = self.spark.read.parquet(
            *[os.path.join(d, "delta") for d in above]
        ).select("token_id", "n_boxes", "total_amount")
        both = (
            deltas
            if base_df is None
            else base_df.select(
                "token_id", "n_boxes", "total_amount"
            ).unionByName(deltas)
        )
        return both.groupBy("token_id").agg(
            F.sum("n_boxes").alias("n_boxes"),
            F.sum("total_amount").alias("total_amount"),
        )

    def top(self, k: int = 100, version: int | None = None) -> DataFrame:
        """The q15b endpoint from the maintained rollup — identical
        result contract to `stats.top_tokens_by_box_count(assets, k)`
        over the full assets table (stream==batch pinned). Served from
        the commit-time `topk` sidecar when it covers `k` (a ~k-row
        single-file scan, ≤0.1 s at the 1.9M anchor vs 0.44 s for the
        read+agg path); larger k falls back to the aggregate."""
        v = self.current_version() if version is None else version
        vs = [x for x in self.versions() if x <= v]
        if not vs:
            raise RuntimeError("empty rollup: no committed versions")
        side = os.path.join(self._vdir(vs[-1]), "topk")
        if k <= SERVE_TOP_K and os.path.exists(side):
            return (
                self.spark.read.parquet(side)
                .orderBy(F.asc("rank"))
                .limit(k)
                .drop("rank")
            )
        totals = self.read(v)
        return totals.orderBy(
            F.desc("n_boxes"), F.asc("token_id")
        ).limit(k)
