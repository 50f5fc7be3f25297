"""Chain fixtures for the benchmark, built only with `fixtures.ChainGen`.

Every fixture is a function of its seed and size, cached on disk under a
key made of both, so a rerun with the same seed skips generation. The
caller reports generation time (`fixtures.gen_s`) only when a fixture was
actually generated. Pure-Python references (the UTXO box-id set of a
block list) come from the generator's block dicts, never from Spark.
"""

from __future__ import annotations

import gzip
import json
import os
import random
import shutil
import time

from ergo_uexplorer_spark.fixtures import (
    ChainGen,
    write_jsonl_gz,
    write_jsonl_gz_sharded,
)

VALUE_BASE = 10**9  # keeps cumulative sums int64-safe on long chains
FIXTURE_VERSION = 2


def utxo_ids(blocks: list[dict]) -> set[str]:
    created = {
        o["boxId"]
        for b in blocks
        for t in b["transactions"]
        for o in t["outputs"]
    }
    spent = {
        i["boxId"] for b in blocks for t in b["transactions"] for i in t["inputs"]
    }
    return created - spent


def read_blocks_py(path: str) -> list[dict]:
    with gzip.open(path, "rt") as f:
        return [json.loads(line) for line in f]


def _branch(
    main: list[dict], minted: list[str], diverge: int, top: int, variant: str
) -> list[dict]:
    """Blocks diverge..top of a branch off `main` (ChainGen.fork grows a
    branch up to its generator's tip, so the generator sees only the main
    blocks below `top + 1`)."""
    g = ChainGen(seed=0, value_base=VALUE_BASE)
    g.blocks = main[:top]
    g.minted_tokens = list(minted)
    return [
        b for b in g.fork(diverge, 0, variant) if b["header"]["height"] >= diverge
    ]


def _cached(cache: str, key: str, build) -> tuple[str, dict, float | None]:
    """(fixture dir, meta, generation seconds or None when cached)."""
    path = os.path.join(cache, key)
    meta_path = os.path.join(path, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return path, json.load(f), None
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    t0 = time.perf_counter()
    meta = build(path)
    gen_s = time.perf_counter() - t0
    with open(meta_path + ".tmp", "w") as f:
        json.dump(meta, f)
    os.rename(meta_path + ".tmp", meta_path)
    return path, meta, gen_s


def ingest_fixture(cache: str, seed: int, n_main: int, n_forks: int, shards: int):
    """A main chain of `n_main` blocks with `n_forks` short losing
    branches (1-3 blocks, each ending at or below the main block of its
    top height) written next to their heights into a sharded dump."""

    def build(path: str) -> dict:
        g = ChainGen(seed=seed, value_base=VALUE_BASE)
        main = g.generate(n_main)
        rng = random.Random(seed * 7919 + 1)
        by_height: dict[int, list[dict]] = {}
        for k in range(n_forks):
            top = rng.randrange(n_main // 4, n_main - 5)
            depth = rng.randint(1, 3)
            branch = _branch(main, g.minted_tokens, top - depth + 1, top, f"lose{k}")
            for b in branch:
                by_height.setdefault(b["header"]["height"], []).append(b)
        dump = []
        for b in main:
            dump.append(b)
            dump.extend(by_height.get(b["header"]["height"], []))
        write_jsonl_gz_sharded(dump, os.path.join(path, "dump"), shards=shards)
        with open(os.path.join(path, "utxo.json"), "w") as f:
            json.dump(sorted(utxo_ids(main)), f)
        return {"n_main": n_main, "n_blocks": len(dump)}

    key = f"ingest-v{FIXTURE_VERSION}-s{seed}-n{n_main}-f{n_forks}-p{shards}"
    return _cached(cache, key, build)


def serve_fixture(cache: str, seed: int, n_main: int):
    """One fork-free chain; the benchmark re-reads its blocks in Python
    to answer every sampled query independently of Spark."""

    def build(path: str) -> dict:
        g = ChainGen(seed=seed, value_base=VALUE_BASE)
        write_jsonl_gz(g.generate(n_main), os.path.join(path, "chain.jsonl.gz"))
        return {"n_main": n_main}

    return _cached(cache, f"serve-v{FIXTURE_VERSION}-s{seed}-n{n_main}", build)


# the kinds of sync deliveries, in turn: every run meets the same fork
# schedule, and the seed picks the blocks and the divergence points
SYNC_SCHEDULE = ("extend", "extend", "win", "tie", "orphan", "extend")


def sync_fixture(cache: str, seed: int, n_deliveries: int, batch: int):
    """A sequence of block batches for fork-aware sync.

    Deliveries follow `SYNC_SCHEDULE` round after round:
      * `extend`: the next `batch` main blocks;
      * `tie`: a branch diverging inside the last batch and ending at the
        tip height (ties keep the incumbent) or one below it: a no-op;
      * `orphan`: such a branch without its first block, so its parent is
        unknown: a no-op;
      * `win`: a branch diverging inside the last batch and one block
        taller than the tip wins (rollback, mid-version split); it is
        followed by a `rejoin` delivery that re-sends the main chain from
        the divergence to one batch past that height, which wins back.
    The last deliveries extend the main chain. The run may stop only
    after a delivery that leaves the state on the main chain (`on_main`),
    so the final check compares with a main prefix. Each delivery records
    the tip it must leave, or null for a no-op.
    """

    def build(path: str) -> dict:
        rng = random.Random(seed * 104729 + 3)
        g = ChainGen(seed=seed, value_base=VALUE_BASE)
        main = g.generate(n_deliveries * batch + 2 * batch)
        write_jsonl_gz(main, os.path.join(path, "main.jsonl.gz"))

        def tip_of(h: int) -> list:
            return [h, main[h - 1]["header"]["id"]]

        plan, tip, k = [], 0, 0
        while len(plan) < n_deliveries:
            kind = SYNC_SCHEDULE[k % len(SYNC_SCHEDULE)]
            k += 1
            if kind == "extend" or len(plan) > n_deliveries - 3:
                blocks = main[tip : tip + batch]
                tip += batch
                plan.append(("extend", blocks, tip_of(tip), True))
                continue
            diverge = rng.randint(tip - batch + 2, tip - 1)
            if kind == "tie":
                top = tip - rng.randint(0, 1)
                blocks = _branch(main, g.minted_tokens, diverge, top, f"tie{k}")
                plan.append(("tie", blocks, None, True))
            elif kind == "orphan":
                blocks = _branch(main, g.minted_tokens, diverge, tip, f"orph{k}")
                plan.append(("orphan", blocks[1:], None, True))
            else:
                top = tip + 1
                blocks = _branch(main, g.minted_tokens, diverge, top, f"win{k}")
                win_tip = [top, blocks[-1]["header"]["id"]]
                plan.append(("win", blocks, win_tip, False))
                blocks = main[diverge - 1 : tip + batch]
                tip += batch
                plan.append(("rejoin", blocks, tip_of(tip), True))
        meta = []
        for i, (kind, blocks, expect, on_main) in enumerate(plan):
            write_jsonl_gz(blocks, os.path.join(path, f"d{i:04d}.jsonl.gz"))
            meta.append(
                {
                    "kind": kind,
                    "n_blocks": len(blocks),
                    "expect_tip": expect,
                    "on_main": on_main,
                }
            )
        return {"deliveries": meta}

    key = f"sync-v{FIXTURE_VERSION}-s{seed}-d{n_deliveries}-b{batch}"
    return _cached(cache, key, build)
