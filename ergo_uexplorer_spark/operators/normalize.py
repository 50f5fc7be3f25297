"""Block normalization (SURVEY §2.2 T1/T2): nested ApiFullBlock records →
silver tables. One declarative explode pipeline; Catalyst prunes unread
nested fields at the JSON/Parquet scan.

Scale decisions:
  * the expensive Python parsing (address/template extraction) runs over
    the deduplicated `ergo_trees` dimension at ingest, never per-box —
    hot addresses (millions of boxes, one tree) cost one UDF call each;
    a sync batch applies `with_tree_columns` to its rows directly (no
    dimension shuffle), and the UDFs parse each distinct tree of an
    Arrow batch once;
  * mint detection is a pure column predicate
    (asset.tokenId == inputs[0].boxId, OutputBuilder.scala:21-26);
  * everything else is explode/withColumn, fully codegen'd.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.crypto import (
    address_type,
    decode_register,
    decode_utf8_register_sql,
    ergo_tree_hash,
    ergo_tree_t8,
    ergo_tree_t8_hash,
    ergo_tree_to_address,
)

REGISTER_IDS = ("R4", "R5", "R6", "R7", "R8", "R9")


def headers(raw: DataFrame) -> DataFrame:
    return raw.select(
        F.col("header.id").alias("block_id"),
        F.col("header.parentId").alias("parent_id"),
        F.col("header.height").alias("height"),
        F.col("header.timestamp").alias("timestamp"),
        F.col("header.version").alias("version"),
        F.col("header.difficulty").alias("difficulty"),
        F.col("header.minerPk").alias("miner_pk"),
        F.col("header.stateRoot").alias("state_root"),
        F.col("size").alias("block_size"),
        F.size("transactions").alias("txs_count"),
    )


def transactions(raw: DataFrame) -> DataFrame:
    """One row per tx; coinbase = last tx of the block
    (FullBlockBuilder.scala:86-88)."""
    tx = raw.select(
        F.col("header.id").alias("block_id"),
        F.col("header.height").alias("height"),
        F.col("header.timestamp").alias("timestamp"),
        F.size("transactions").alias("n_txs"),
        F.posexplode("transactions").alias("tx_idx", "tx"),
    )
    return tx.select(
        "block_id",
        "height",
        "timestamp",
        "tx_idx",
        F.col("tx.id").alias("tx_id"),
        F.col("tx.size").alias("tx_size"),
        F.size("tx.inputs").alias("n_inputs"),
        F.size("tx.outputs").alias("n_outputs"),
        (F.col("tx_idx") == F.col("n_txs") - 1).alias("is_coinbase"),
        F.element_at("tx.inputs", 1)["boxId"].alias("first_input_box_id"),
    )


def outputs(raw: DataFrame) -> DataFrame:
    """One row per output box, with per-block/tx/output indexes and the
    r4..r9 register columns (light-model layout, h2-schema.sql:52-57)."""
    tx = raw.select(
        F.col("header.id").alias("block_id"),
        F.col("header.height").alias("height"),
        F.col("header.timestamp").alias("timestamp"),
        F.posexplode("transactions").alias("tx_idx", "tx"),
    )
    out = tx.select(
        "block_id",
        "height",
        "timestamp",
        "tx_idx",
        F.col("tx.id").alias("tx_id"),
        F.element_at("tx.inputs", 1)["boxId"].alias("first_input_box_id"),
        F.posexplode("tx.outputs").alias("output_idx", "o"),
    )
    reg_cols = [
        F.element_at("o.additionalRegisters", r).alias(r.lower())
        for r in REGISTER_IDS
    ]
    return out.select(
        "block_id",
        "height",
        "timestamp",
        "tx_id",
        "tx_idx",
        "output_idx",
        "first_input_box_id",
        F.col("o.boxId").alias("box_id"),
        F.col("o.value").alias("value"),
        F.col("o.creationHeight").alias("creation_height"),
        F.col("o.ergoTree").alias("ergo_tree"),
        F.col("o.assets").alias("assets"),
        *reg_cols,
    )


def inputs(raw: DataFrame) -> DataFrame:
    tx = raw.select(
        F.col("header.id").alias("block_id"),
        F.col("header.height").alias("height"),
        F.posexplode("transactions").alias("tx_idx", "tx"),
    )
    inp = tx.select(
        "block_id",
        "height",
        "tx_idx",
        F.col("tx.id").alias("tx_id"),
        F.posexplode("tx.inputs").alias("input_idx", "i"),
    )
    return inp.select(
        "block_id",
        "height",
        "tx_id",
        "tx_idx",
        "input_idx",
        F.col("i.boxId").alias("box_id"),
        F.col("i.spendingProof.proofBytes").alias("proof_bytes"),
        F.col("i.spendingProof.extension").alias("extension"),
    )


def data_inputs(raw: DataFrame) -> DataFrame:
    tx = raw.select(
        F.col("header.id").alias("block_id"),
        F.col("header.height").alias("height"),
        F.posexplode("transactions").alias("tx_idx", "tx"),
    )
    di = tx.select(
        "block_id",
        "height",
        F.col("tx.id").alias("tx_id"),
        "tx_idx",
        F.posexplode("tx.dataInputs").alias("input_idx", "d"),
    )
    return di.select(
        "block_id", "height", "tx_id", "tx_idx", "input_idx",
        F.col("d.boxId").alias("box_id"),
    )


def assets(outputs_df: DataFrame) -> DataFrame:
    """One row per (box, asset); `is_mint` per the tokenId==inputs[0]
    rule."""
    a = outputs_df.select(
        "block_id",
        "height",
        "tx_id",
        "box_id",
        "first_input_box_id",
        "r4",
        "r5",
        "r6",
        F.posexplode("assets").alias("asset_idx", "a"),
    )
    return a.select(
        "block_id",
        "height",
        "tx_id",
        "box_id",
        "asset_idx",
        F.col("a.tokenId").alias("token_id"),
        F.col("a.amount").alias("amount"),
        (F.col("a.tokenId") == F.col("first_input_box_id")).alias("is_mint"),
        "r4",
        "r5",
        "r6",
    )


def tokens(assets_df: DataFrame) -> DataFrame:
    """Minted tokens with EIP-4 props from sigma-serialized R4/R5/R6
    (TokenPropsParser.scala:14-19): props exist only when R4 decodes
    (name); description defaults to '' and decimals parses BASE-10 from
    the rendered string (`_.toIntOption.getOrElse(0)`) — EIP-4 stores
    the decimal count as an ASCII string, not a binary int."""
    minted = assets_df.filter(F.col("is_mint"))
    # the four prop columns are built as SQL TEXT (one py4j round trip
    # per column instead of ~30 per decode fragment — guide §7.3; the
    # SQL twin is pinned to the Column form by
    # test_decode_utf8_register_sql_equals_column)
    name = decode_utf8_register_sql("r4")
    dec_str = decode_utf8_register_sql("r6")
    dec_int = (
        f"(CASE WHEN {dec_str} RLIKE '^[0-9]{{1,9}}$'"
        f" THEN CAST({dec_str} AS INT) END)"
    )
    has_props = f"({name}) IS NOT NULL"
    return minted.selectExpr(
        "token_id",
        "box_id",
        "block_id",
        "height",
        "amount",
        f"{name} AS name",
        f"CASE WHEN {has_props} THEN"
        f" coalesce({decode_utf8_register_sql('r5')}, '') END"
        f" AS description",
        f"CASE WHEN {has_props} THEN coalesce({dec_int}, 0) END AS decimals",
        f"CASE WHEN {has_props} THEN 'EIP-004' END AS token_type",
    )


def registers(outputs_df: DataFrame) -> DataFrame:
    """T6 (RegistersParser.scala:20-89): long-form expanded registers —
    (box_id, register_id, raw, sigma_type, rendered); undecodable blobs
    keep raw with null decode (ExpandedRegister(raw, None)). The decode
    UDF runs over DISTINCT raw values only (dimension trick, like trees).
    """
    pairs = F.array(
        *[
            F.struct(
                F.lit(r).alias("register_id"), F.col(r.lower()).alias("raw")
            )
            for r in REGISTER_IDS
        ]
    )
    long = (
        outputs_df.select(
            "box_id", "block_id", "height", F.explode(pairs).alias("reg")
        )
        .select(
            "box_id",
            "block_id",
            "height",
            F.col("reg.register_id").alias("register_id"),
            F.col("reg.raw").alias("raw"),
        )
        .filter(F.col("raw").isNotNull())
    )
    dim = (
        long.select("raw")
        .distinct()
        .withColumn("decoded", decode_register(F.col("raw")))
        .select(
            "raw",
            F.col("decoded.sigma_type").alias("sigma_type"),
            F.col("decoded.rendered").alias("rendered"),
        )
    )
    return long.join(F.broadcast(dim), "raw").select(
        "box_id",
        "block_id",
        "height",
        "register_id",
        "raw",
        "sigma_type",
        "rendered",
    )


def with_tree_columns(df: DataFrame) -> DataFrame:
    """`df` plus the columns derived from its `ergo_tree` (T7/T9): the
    tree hash, the T8 template and its hash, and the address."""
    df = df.withColumn("ergo_tree_hash", ergo_tree_hash(F.col("ergo_tree")))
    df = df.withColumn("ergo_tree_t8", ergo_tree_t8(F.col("ergo_tree")))
    df = df.withColumn(
        "ergo_tree_t8_hash", ergo_tree_t8_hash(F.col("ergo_tree_t8"))
    )
    return df.withColumn("address", ergo_tree_to_address(F.col("ergo_tree")))


def ergo_trees(outputs_df: DataFrame) -> DataFrame:
    """Deduplicated tree dimension with the Python-parsed derivations."""
    dim = with_tree_columns(outputs_df.select("ergo_tree").distinct())
    return dim.withColumn("address_type", address_type(F.col("address")))


def boxes(outputs_df: DataFrame, trees_dim: DataFrame) -> DataFrame:
    """The immutable `Box` fact table: outputs + tree hash columns via a
    broadcast join against the tree dimension (never a per-row UDF)."""
    return outputs_df.join(
        F.broadcast(
            trees_dim.select(
                "ergo_tree", "ergo_tree_hash", "ergo_tree_t8_hash", "address"
            )
        ),
        "ergo_tree",
    )


def normalize(raw: DataFrame) -> dict[str, DataFrame]:
    """Full bronze→silver pass; returns the table dict."""
    out = outputs(raw)
    trees = ergo_trees(out)
    ast = assets(out)
    return {
        "headers": headers(raw),
        "transactions": transactions(raw),
        "outputs": out,
        "inputs": inputs(raw),
        "data_inputs": data_inputs(raw),
        "assets": ast,
        "tokens": tokens(ast),
        "registers": registers(out),
        "ergo_trees": trees,
        "boxes": boxes(out, trees),
    }
