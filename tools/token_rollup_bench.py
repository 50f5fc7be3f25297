"""q15b from the maintained rollup at the 1.9M-utxo anchor
(r11 VERDICT #3's Done bar: ≤ 0.2 s warm).

Reuses the `scale_chain_bench` fixture, slices its assets into 25
height-windows committed as successive rollup batches (compaction
cadence 10 → the serving read is one base + ≤ 9 deltas, the steady
state of a syncing node), then times `top(100)` warm and verifies it
equals `top_tokens_by_box_count` over the full assets table.

Prints one JSON line; the row goes to SCALE.md's endpoint table.
Usage: python tools/token_rollup_bench.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.scale_chain_bench import FIXTURE_DIR, build_fixture  # noqa: E402

N_BATCHES = 25


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from ergo_uexplorer_spark.operators.stats import top_tokens_by_box_count
    from ergo_uexplorer_spark.pipeline import ingest_blocks
    from ergo_uexplorer_spark.streaming.token_rollup import (
        TokenStatsRollup,
        token_partials,
    )

    build_fixture()
    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        )
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "24g")
        .getOrCreate()
    )
    tables = ingest_blocks(spark, FIXTURE_DIR, cache="raw")
    assets = tables["assets"].persist()
    n_assets = assets.count()
    max_h = assets.agg(F.max("height")).collect()[0][0]
    tables["raw"].unpersist(blocking=False)
    print(f"assets: {n_assets:,} rows, max height {max_h}", flush=True)

    state_dir = os.path.join(FIXTURE_DIR, "..", "rollup_state")
    shutil.rmtree(state_dir, ignore_errors=True)
    rollup = TokenStatsRollup(spark, state_dir, compact_every=10)
    step = max_h // N_BATCHES + 1
    t0 = time.time()
    for i in range(N_BATCHES):
        lo, hi = i * step, (i + 1) * step
        rollup.commit(
            token_partials(
                assets.filter(
                    (F.col("height") >= lo) & (F.col("height") < hi)
                )
            ),
            batch_id=i,
        )
    maintain_s = round(time.time() - t0, 1)
    print(
        f"maintained {rollup.current_version()} versions in {maintain_s}s "
        f"({maintain_s / N_BATCHES:.2f}s/batch)",
        flush=True,
    )

    def timed(fn):
        best = None
        for _ in range(3):
            t = time.time()
            fn()
            dt = time.time() - t
            best = dt if best is None or dt < best else best
        return round(best, 3)

    q15b_sidecar = timed(lambda: rollup.top(100).collect())
    q15b_agg = timed(lambda: rollup.top(101).collect())  # past sidecar k
    q15b_scan = timed(
        lambda: top_tokens_by_box_count(assets, k=100).collect()
    )
    expect = [tuple(r) for r in top_tokens_by_box_count(assets, 100).collect()]
    got = [tuple(r) for r in rollup.top(100).collect()]
    match = got == expect
    out = {
        "n_assets": n_assets,
        "n_batches": N_BATCHES,
        "maintain_s_total": maintain_s,
        "q15b_rollup_sidecar_warm_s": q15b_sidecar,
        "q15b_rollup_agg_warm_s": q15b_agg,
        "q15b_full_scan_warm_s": q15b_scan,
        "rollup_equals_scan": match,
    }
    print(json.dumps(out))
    if not match:
        raise SystemExit("rollup != full scan")


if __name__ == "__main__":
    main()
