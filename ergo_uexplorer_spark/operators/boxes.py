"""The box query surface (SURVEY §2.4 Q1-Q13, Q17-Q18).

The reference exposes 42 REST endpoints = {boxes, box-ids} × {unspent,
spent, any} × {by-address, by-ergo-tree, by-ergo-tree-hash, by-template,
by-template-hash, by-token-id, by-id(s)} (backend/TapirRoutes.scala:
24-120), all backed by per-key SQL with client-side set diffs and a
32-way parallel fan-out (BoxService.scala:13-26). Here the whole matrix
is TWO functions over the lakehouse tables — liveness is a filter on
`boxes_main.spent_height` (null while a box is live), key-kind picks
the filter column, and one DataFrame answers any number of keys at
once (no fan-out needed: Q10).

Address / tree / template inputs are normalized to hash keys driver-side
(they arrive as scalar API parameters), mirroring
BoxService.scala:100-123.
"""

from __future__ import annotations

import hashlib
from typing import Iterable, Literal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.crypto import (
    P2PK_PREFIX,
    P2SH_PREFIX,
    decode_address,
    p2sh_tree,
)

Liveness = Literal["unspent", "spent", "any"]
KeyKind = Literal[
    "address",
    "ergo_tree",
    "ergo_tree_hash",
    "template",
    "template_hash",
    "token_id",
    "box_id",
]

# dynamic-filter whitelist (BoxService.scala:370-371)
INDEX_WHITELIST = ("r4", "r5", "r6", "r7", "r8", "r9", "token_id", "tx_id")
ALL_COLUMNS = (
    "box_id",
    "block_id",
    "tx_id",
    "ergo_tree_hash",
    "ergo_tree_t8_hash",
    "value",
    "height",
    "creation_height",
    "address",
)


def address_to_ergo_tree(addr: str) -> str:
    """Address → ErgoTree hex (base58Address2ErgoTree, ErgoTreeParser
    .scala:105-118): checksum-validated — a malformed or corrupted
    address RAISES (Address.fromStringUnsafe semantics) instead of
    silently matching nothing. P2PK rebuilds the 0008cd tree, P2SH
    rebuilds the canonical P2SH script around the 24-byte hash, P2S
    content IS the serialized script."""
    info = decode_address(addr)
    if info is None:
        raise ValueError(f"invalid address (base58/checksum): {addr}")
    prefix, content = info
    if prefix == P2PK_PREFIX:
        return "0008cd" + content.hex()
    if prefix == P2SH_PREFIX:
        return p2sh_tree(content.hex())
    return content.hex()


def tree_sha256(hex_or_text: str) -> str:
    try:
        raw = bytes.fromhex(hex_or_text)
    except ValueError:
        raw = hex_or_text.encode()
    return hashlib.sha256(raw).hexdigest()


def _key_filter(kind: KeyKind, keys: Iterable[str]):
    keys = list(keys)
    if kind == "address":
        col, vals = "ergo_tree_hash", [
            tree_sha256(address_to_ergo_tree(k)) for k in keys
        ]
    elif kind == "ergo_tree":
        col, vals = "ergo_tree_hash", [tree_sha256(k) for k in keys]
    elif kind == "ergo_tree_hash":
        col, vals = "ergo_tree_hash", keys
    elif kind == "template":
        col, vals = "ergo_tree_t8_hash", [tree_sha256(k) for k in keys]
    elif kind == "template_hash":
        col, vals = "ergo_tree_t8_hash", keys
    elif kind == "box_id":
        col, vals = "box_id", keys
    else:
        raise ValueError(f"unhandled key kind {kind}")
    return F.col(col).isin(vals)


def select_boxes(
    tables: dict[str, DataFrame],
    liveness: Liveness = "any",
    key_kind: KeyKind | None = None,
    keys: Iterable[str] | None = None,
    params: dict[str, str] | None = None,
    columns: Iterable[str] | None = None,
    probe_ids: bool = False,
    probe_cap: int = 1_000,
) -> DataFrame:
    """The generic surface: liveness × key-kind × dynamic whitelisted
    predicates × column projection. Liveness reads the `spent_height`
    column the ingest stores on `boxes_main` (null: unspent), so a
    liveness route scans one table in one job. Equality predicates land
    in the scan (Catalyst pushdown); token filtering is a semi-join on
    the assets table (Q7).

    `probe_ids=True` is the interactive-serving strategy for the
    token lookup — the Spark mirror of the reference's
    `asset2box_tokenId` B-tree walk (h2-schema.sql:79): the
    holder box ids (bounded for a point token query) are collected and
    pushed into the boxes scan as an IN filter, which bucket-prunes to
    1/N of the files when boxes_main is bucketed by box_id — instead
    of streaming the whole boxes table through a semi-join build.
    Exact same result (the semi-join IS membership in that id set);
    falls back to the semi-join past `probe_cap` holder ids.

    `probe_cap` defaults to the MEASURED knee, not a round number
    (r11 ADVICE / r12 A/B at the 1.9M-utxo anchor, SCALE.md): the
    IN-literal plan costs ~0.75 ms per id end to end (plan build +
    bucket-prune + task-binary broadcast grows linearly; 0.99 s at 1k
    ids vs 3.6 s at 5k) while the semi-join fallback is flat ~1.2 s —
    they cross at ≈1.3k ids, so the probe stays never-worse below
    1_000 and the fallback takes over above."""
    boxes = tables["boxes_main"]
    if liveness == "unspent":
        boxes = boxes.filter(F.col("spent_height").isNull())
    elif liveness == "spent":
        boxes = boxes.filter(F.col("spent_height").isNotNull())
    if key_kind == "token_id":
        # no distinct for the semi-join: it ignores duplicate keys
        holders = (
            tables["assets"]
            .filter(F.col("token_id").isin(list(keys or [])))
            .select("box_id")
        )
        probed = False
        if probe_ids:
            # distinct here: the ids are counted against probe_cap
            ids = [
                r["box_id"]
                for r in holders.distinct().limit(probe_cap + 1).collect()
            ]
            if len(ids) <= probe_cap:
                boxes = boxes.filter(F.col("box_id").isin(ids))
                probed = True
        if not probed:
            boxes = boxes.join(holders, "box_id", "left_semi")
    elif key_kind is not None:
        boxes = boxes.filter(_key_filter(key_kind, keys or []))
    for k, v in (params or {}).items():
        if k not in INDEX_WHITELIST:
            raise ValueError(f"predicate {k} not in whitelist")
        if k == "token_id":
            holders = (
                tables["assets"].filter(F.col("token_id") == v).select("box_id")
            )
            boxes = boxes.join(holders, "box_id", "left_semi")
        else:
            boxes = boxes.filter(F.col(k) == v)
    cols = [c for c in (columns or ALL_COLUMNS) if c in boxes.columns]
    return boxes.select(*cols)


def box_ids(
    tables: dict[str, DataFrame],
    liveness: Liveness = "any",
    key_kind: KeyKind | None = None,
    keys: Iterable[str] | None = None,
    params: dict[str, str] | None = None,
    probe_ids: bool = False,
) -> DataFrame:
    """The `-ids` endpoint family: same query, ids projection."""
    return select_boxes(
        tables, liveness, key_kind, keys, params, ["box_id"],
        probe_ids=probe_ids,
    )


def boxes_with_assets(
    tables: dict[str, DataFrame],
    liveness: Liveness = "any",
    key_kind: KeyKind | None = None,
    keys: Iterable[str] | None = None,
    probe_ids: bool = False,
    probe_cap: int = 1_000,
) -> DataFrame:
    """Q18 response assembly (BoxWithAssets, LightBlockModel.scala:31-87):
    box ⟕ assets grouped into a sorted struct array + block meta via a
    broadcast of the blocks dimension.

    `probe_ids=True` is the interactive-serving strategy — the Spark
    mirror of the reference's `asset2box_boxId` B-tree probe
    (h2-schema.sql:80): the selected boxes' ids (a handful for a
    point/address query) are collected and pushed into the assets scan
    as an IN filter, which bucket-prunes to 1/N of the files when the
    assets table is bucketed by box_id (`storage.write_bucketed`) —
    instead of streaming the whole multi-million-row assets table
    through the join's build side. Exact same result: assets rows
    outside the id list could never match the left join. Falls back to
    the plain join past `probe_cap` selected ids (an analytical query
    shouldn't driver-collect its key set); the default cap sits at the
    measured IN-literal/semi-join crossover (~1.3k ids at the 1.9M
    anchor — see `select_boxes` and SCALE.md r12)."""
    sel = select_boxes(
        tables,
        liveness,
        key_kind,
        keys,
        columns=[
            "box_id",
            "block_id",
            "tx_id",
            "value",
            "height",
            "ergo_tree_hash",
            "address",
        ],
    )
    if probe_ids:
        ids = [
            r["box_id"] for r in sel.select("box_id").limit(probe_cap + 1).collect()
        ]
        if len(ids) <= probe_cap:
            tables = dict(tables)
            tables["assets"] = tables["assets"].filter(
                F.col("box_id").isin(ids)
            )
    assets = tables["assets"].select(
        "box_id",
        F.struct(
            F.col("asset_idx").alias("index"),
            F.col("token_id").alias("token_id"),
            F.col("amount").alias("amount"),
        ).alias("asset"),
    )
    grouped = (
        sel.join(assets, "box_id", "left")
        .groupBy(
            "box_id",
            "block_id",
            "tx_id",
            "value",
            "height",
            "ergo_tree_hash",
            "address",
        )
        .agg(
            F.sort_array(
                F.collect_list("asset")
            ).alias("assets")
        )
    )
    blocks_meta = tables["blocks"].select(
        "block_id", F.col("timestamp").alias("block_timestamp")
    )
    return grouped.join(F.broadcast(blocks_meta), "block_id", "left")


def last_blocks(tables: dict[str, DataFrame], n: int = 10) -> DataFrame:
    """Q11 (PersistentBlockRepo.scala:32-41): TakeOrderedAndProject."""
    return tables["blocks"].orderBy(F.desc("height")).limit(n)


def blocks_by_ids(
    tables: dict[str, DataFrame], ids: Iterable[str]
) -> DataFrame:
    """Q12: point/IN lookup on the Block table."""
    return tables["blocks"].filter(F.col("block_id").isin(list(ids)))


def chain_info(tables: dict[str, DataFrame]) -> DataFrame:
    """Q16 `info` endpoint: max height + tip id."""
    return tables["blocks"].agg(
        F.max("height").alias("last_height"),
        F.max_by("block_id", "height").alias("best_block_id"),
    )


def is_empty(df: DataFrame) -> bool:
    """Q13 emptiness probe — limit(1), never a full count."""
    return df.limit(1).count() == 0
