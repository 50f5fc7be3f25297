"""UTXO maintenance (SURVEY §2.3 C4-C5, §2.4 Q8).

The reference maintains `Utxo` imperatively: insert every output, delete
every spent input, assert-fail when a spent box doesn't exist
(MvStorage.scala:132-229). Batch-first the live set is *defined* the way
the reference defines "spent": `utxo = boxes ∖ spent_inputs` — one
left-anti join on box_id, which Spark executes shuffle-partitioned on
box_id (or as a broadcast when the input side is a single block's worth
in the incremental path). Genesis pseudo-boxes are excluded from
existence checks exactly like Emission/Foundation input boxes
(backend/PersistentRepo.scala:28-31).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..constants import GENESIS_BOXES


def spent_inputs(inputs: DataFrame) -> DataFrame:
    """Inputs that spend real boxes (genesis pseudo-inputs excluded)."""
    return inputs.filter(~F.col("box_id").isin(*sorted(GENESIS_BOXES)))


def with_spent_height(boxes: DataFrame, inputs: DataFrame) -> DataFrame:
    """`boxes` plus `spent_height`: the lowest height of an input in
    `inputs` that spends the box, null while the box is live. This is
    the reference's "spent = Box ∖ Utxo" (PersistentBoxRepo.scala:
    47-70) stored once on the box row, so a liveness query is a filter
    instead of a join. The inputs are aggregated by box_id before the
    left join, so a duplicated input row cannot duplicate a box."""
    spent = (
        spent_inputs(inputs)
        .groupBy("box_id")
        .agg(F.min("height").alias("spent_height"))
    )
    return boxes.join(spent, "box_id", "left").select(
        *boxes.columns, "spent_height"
    )


def utxo(boxes: DataFrame, inputs: DataFrame) -> DataFrame:
    """The live set: Box ∖ spent (BoxService.scala:132-138 semantics,
    in-engine)."""
    return boxes.join(
        spent_inputs(inputs).select("box_id"), "box_id", "left_anti"
    )


def spent_boxes(boxes: DataFrame, inputs: DataFrame) -> DataFrame:
    """Box ⋉ inputs — the 'spent' side of every getSpent* endpoint."""
    return boxes.join(
        spent_inputs(inputs).select("box_id"), "box_id", "left_semi"
    )


def verify_spend_integrity(boxes: DataFrame, inputs: DataFrame) -> None:
    """removeAllOrFail (MvStorage.scala:132-147): every non-genesis input
    must spend an existing box, at most once."""
    si = spent_inputs(inputs)
    dangling = si.join(boxes.select("box_id"), "box_id", "left_anti").count()
    if dangling:
        raise AssertionError(f"{dangling} inputs spend non-existent boxes")
    double = (
        si.groupBy("box_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter("n > 1")
        .count()
    )
    if double:
        raise AssertionError(f"{double} boxes spent more than once")


def address_stats(utxo_df: DataFrame) -> DataFrame:
    """Per-address live stats feeding Q14/Q15 top-K (StatsService.scala:
    12-35) — exact groupBy over the whole live set (the reference
    approximates by scanning only supernode keys); partial aggregation
    map-side, AQE splits skewed addresses."""
    return utxo_df.groupBy("ergo_tree_hash", "address").agg(
        F.count(F.lit(1)).alias("utxo_count"),
        F.sum("value").alias("total_value"),
    )
