"""Reproduce the reference's published END-STATE anchor and measure the
interactive query surface against SURVEY §6's <1 s target.

The reference's readme.md:180 (BASELINE.md) reports, at epoch 816:
1,886,283 live utxos over 159,562 non-empty addresses. This tool builds
a chain fixture with exactly that end-state scale via the sharded
chaingen (fast_pool O(1) draws, 159,562-address pool, 8-25 txs/block —
stops at the first block crossing the utxo anchor), ingests it through
the full pipeline, and times the Q1/Q5/Q6/Q11/Q12/Q14/Q15/Q16/Q17 box
and stats endpoint shapes warm (best of 3) on the persisted tables —
the posture of a serving node answering interactive queries.

Usage: python tools/scale_chain_bench.py [--blocks-only]
Writes the fixture under .bench/chain_scale/ (reused if present) and
prints one JSON line with per-endpoint seconds. SPARK_GRAFT_CPUS (default
32) and SPARK_GRAFT_DRIVER_MEMORY (default 24g) size the local session.
Results are recorded in SCALE.md's chain-domain section.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TARGET_UTXOS = 1_886_283
N_ADDRESSES = 159_562
CHUNK = 4_000
FIXTURE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".bench",
    "chain_scale",
)


def build_fixture() -> int:
    from ergo_uexplorer_spark.fixtures import ChainGen
    from ergo_uexplorer_spark.fixtures.chaingen import write_jsonl_gz

    if os.path.exists(os.path.join(FIXTURE_DIR, "DONE")):
        with open(os.path.join(FIXTURE_DIR, "DONE")) as f:
            return int(f.read().strip())
    os.makedirs(FIXTURE_DIR, exist_ok=True)
    gen = ChainGen(
        seed=2026,
        value_base=10**9,  # emission floors at the reward; int64-safe sums
        n_addresses=N_ADDRESSES,
        tx_range=(8, 25),
        fast_pool=True,
    )
    net, height, shard = 0, 0, 0
    t0 = time.time()
    parent = None
    from ergo_uexplorer_spark.fixtures.chaingen import GENESIS_ID

    parent = GENESIS_ID
    while net < TARGET_UTXOS:
        chunk = []
        for _ in range(CHUNK):
            height += 1
            b = gen.block(height, parent)
            parent = b["header"]["id"]
            chunk.append(b)
            for tx in b["transactions"]:
                net += len(tx["outputs"]) - len(tx["inputs"])
            if net >= TARGET_UTXOS:
                break
        write_jsonl_gz(
            chunk,
            os.path.join(FIXTURE_DIR, f"part-{shard:05d}.jsonl.gz"),
        )
        gen.blocks.clear()
        shard += 1
        print(
            f"  gen {height} blocks, {net:,} net utxos,"
            f" {round(time.time() - t0)}s",
            flush=True,
        )
    with open(os.path.join(FIXTURE_DIR, "DONE"), "w") as f:
        f.write(str(height))
    return height


def run_queries() -> dict:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from ergo_uexplorer_spark.operators.boxes import (
        blocks_by_ids,
        box_ids,
        boxes_with_assets,
        chain_info,
        is_empty,
        last_blocks,
        select_boxes,
    )
    from ergo_uexplorer_spark.operators.stats import (
        top_addresses_by_utxo_count,
        top_addresses_by_value,
        top_tokens_by_box_count,
    )
    from ergo_uexplorer_spark.pipeline import ingest_blocks

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        )
        .config("spark.sql.shuffle.partitions", "32")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEMORY", "24g"),
        )
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(FIXTURE_DIR, "..", "chain_warehouse"),
        )
        .getOrCreate()
    )
    t0 = time.time()
    tables = ingest_blocks(spark, FIXTURE_DIR, cache="raw")
    # serving posture: the queryable tables are materialized once
    served = {}
    for name in (
        "boxes_main",
        "inputs_main",
        "assets",
        "blocks",
        "utxo",
        "address_stats",
    ):
        served[name] = tables[name].persist()
    n_utxo = served["utxo"].count()
    n_addr = served["address_stats"].count()
    for name, df in served.items():
        df.count()
    tables.update(served)
    tables["raw"].unpersist(blocking=False)
    ingest_s = round(time.time() - t0, 1)
    print(f"ingested: {n_utxo:,} utxos, {n_addr:,} addresses, {ingest_s}s",
          flush=True)

    # probe keys sampled from the data (an address with several boxes,
    # real box/block/token ids)
    some_boxes = served["utxo"].limit(40).collect()
    box_id0 = some_boxes[0]["box_id"]
    box_ids20 = [r["box_id"] for r in some_boxes[:20]]
    addr = (
        served["address_stats"]
        .filter(F.col("utxo_count").between(5, 50))
        .limit(1)
        .collect()[0]["address"]
    )
    blk_ids = [r["block_id"] for r in served["blocks"].limit(5).collect()]
    tok = served["assets"].limit(1).collect()[0]["token_id"]

    def timed(fn):
        best = None
        for _ in range(3):
            t = time.time()
            fn()
            dt = time.time() - t
            best = dt if best is None or dt < best else best
        return round(best, 3)

    qs = {
        "q01_point_lookup": lambda: select_boxes(
            tables, key_kind="box_id", keys=[box_id0]
        ).collect(),
        "q02_in_list": lambda: select_boxes(
            tables, key_kind="box_id", keys=box_ids20
        ).collect(),
        "q03_ids_by_address": lambda: box_ids(
            tables, key_kind="address", keys=[addr]
        ).collect(),
        "q06_boxes_with_assets_addr": lambda: boxes_with_assets(
            tables, liveness="unspent", key_kind="address", keys=[addr]
        ).collect(),
        "q07_ids_by_token": lambda: box_ids(
            tables, key_kind="token_id", keys=[tok]
        ).collect(),
        "q11_last_blocks": lambda: last_blocks(tables, 10).collect(),
        "q12_blocks_by_ids": lambda: blocks_by_ids(tables, blk_ids).collect(),
        "q13_emptiness": lambda: is_empty(
            select_boxes(tables, key_kind="box_id", keys=["ff" * 32])
        ),
        "q14_top_by_count": lambda: top_addresses_by_utxo_count(
            served["address_stats"], k=500
        ).collect(),
        "q15_top_by_value": lambda: top_addresses_by_value(
            served["address_stats"], k=500
        ).collect(),
        "q15b_top_tokens": lambda: top_tokens_by_box_count(
            served["assets"], k=100
        ).collect(),
        "q16_chain_info": lambda: chain_info(tables).collect(),
        "q17_unspent_by_address": lambda: select_boxes(
            tables, liveness="unspent", key_kind="address", keys=[addr]
        ).collect(),
        "q17_spent_by_address": lambda: select_boxes(
            tables, liveness="spent", key_kind="address", keys=[addr]
        ).collect(),
    }
    out = {"n_utxo": n_utxo, "n_addresses": n_addr, "ingest_s": ingest_s}
    for name, fn in qs.items():
        out[name] = timed(fn)
        print(f"  {name}: {out[name]}s", flush=True)

    # ---- storage-layout A/B for the three asset-dim endpoints (r10
    # VERDICT #4). The in-memory numbers above are the serving-cache
    # posture; at 100 TB the assets table reads from STORAGE, so the
    # layout question is disk-vs-disk: the flat lakehouse layout
    # (write_fact: sorted by (token_id, box_id) → parquet min/max
    # pruning on token predicates) against the bucketed managed tables
    # mirroring the reference's TWO asset B-trees (asset2box_tokenId /
    # asset2box_boxId, h2-schema.sql:79-80,100-101): q07/q15b on the
    # token_id layout (bucket-pruned point filter / exchange-free
    # groupBy), q06 probing the box_id layout with the collected id
    # list (boxes_with_assets probe_ids — the B-tree point-probe).
    from ergo_uexplorer_spark.storage import write_bucketed, write_fact

    # managed-table locations persist across sessions while the derby
    # metastore does not — clear them or saveAsTable refuses
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("assets_by_token", "assets_by_box", "boxes_by_box"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(wh, t), ignore_errors=True)
    flat_dir = os.path.join(FIXTURE_DIR, "..", "chain_flat_assets")
    t0 = time.time()
    write_fact(served["assets"], flat_dir, ["token_id", "box_id"])
    out["flat_write_s"] = round(time.time() - t0, 1)
    t0 = time.time()
    write_bucketed(
        served["assets"], "assets_by_token", keys=("token_id",)
    )
    out["bucketed_write_token_s"] = round(time.time() - t0, 1)
    t0 = time.time()
    write_bucketed(served["assets"], "assets_by_box", keys=("box_id",))
    out["bucketed_write_box_s"] = round(time.time() - t0, 1)
    t0 = time.time()
    write_bucketed(served["boxes_main"], "boxes_by_box", keys=("box_id",))
    out["bucketed_write_boxes_s"] = round(time.time() - t0, 1)

    flat_assets = spark.read.parquet(flat_dir)
    flat_t = dict(tables)
    flat_t["assets"] = flat_assets
    by_token = dict(tables)
    by_token["assets"] = spark.table("assets_by_token")
    by_box = dict(tables)
    by_box["assets"] = spark.table("assets_by_box")
    # the full Q7 probe layout (r11): BOTH sides indexed — holder ids
    # from the token_id-bucketed assets, probed into box_id-bucketed
    # boxes (the asset2box_tokenId walk + primary-key probe)
    probe7 = dict(tables)
    probe7["assets"] = by_token["assets"]
    probe7["boxes_main"] = spark.table("boxes_by_box")
    layouts = {
        "flat_disk": (flat_t, flat_t, flat_assets),
        "bucketed": (by_box, by_token, by_token["assets"]),
    }
    for lname, (t_box, t_tok, assets_df) in layouts.items():
        shapes = {
            f"q06_assets_addr[{lname}]": lambda t=t_box: boxes_with_assets(
                t,
                liveness="unspent",
                key_kind="address",
                keys=[addr],
                probe_ids=True,
            ).collect(),
            f"q07_ids_by_token[{lname}]": lambda t=t_tok: box_ids(
                t, key_kind="token_id", keys=[tok]
            ).collect(),
            f"q15b_top_tokens[{lname}]": lambda a=assets_df:
                top_tokens_by_box_count(a, k=100).collect(),
        }
        for name, fn in shapes.items():
            out[name] = timed(fn)
            print(f"  {name}: {out[name]}s", flush=True)
    out["q07_ids_by_token[probe_bucketed]"] = timed(
        lambda: box_ids(
            probe7, key_kind="token_id", keys=[tok], probe_ids=True
        ).collect()
    )
    print(
        "  q07_ids_by_token[probe_bucketed]: "
        f"{out['q07_ids_by_token[probe_bucketed]']}s",
        flush=True,
    )
    return out


if __name__ == "__main__":
    blocks = build_fixture()
    print(f"fixture: {blocks} blocks under {FIXTURE_DIR}", flush=True)
    if "--blocks-only" not in sys.argv:
        print(json.dumps(run_queries()))
