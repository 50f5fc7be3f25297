"""Streaming operators: mempool diff (C11), incremental UTXO sync
(C10/C4/C5/S10) — streamed result must equal the batch pipeline."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from ergo_uexplorer_spark.fixtures.chaingen import ChainGen, write_jsonl_gz
from ergo_uexplorer_spark.pipeline import ingest_blocks
from ergo_uexplorer_spark.streaming.incremental import (
    UtxoState,
    apply_block_batch_forkaware,
    incremental_sync,
)
from ergo_uexplorer_spark.streaming.mempool import mempool_diff, stream_new_txs


@pytest.fixture(scope="module")
def gen():
    g = ChainGen(seed=21)
    g.generate(120)
    return g


def _write_tx_snapshot(path, txs):
    with open(path, "w") as f:
        for t in txs:
            f.write(json.dumps(t, separators=(",", ":")) + "\n")


def test_mempool_diff_batch(spark, gen, tmp_path):
    """3 snapshots of 6/9/9 txs with overlaps (FIXTURES §3)."""
    txs = [t for b in gen.blocks[:20] for t in b["transactions"]][:12]
    snap1, snap2, snap3 = txs[0:6], txs[2:11], txs[3:12]
    d = tmp_path / "mp"
    d.mkdir()
    _write_tx_snapshot(d / "s1.json", snap1)
    _write_tx_snapshot(d / "s2.json", snap2)
    from ergo_uexplorer_spark.sources.blocks import TX_SCHEMA

    df1 = spark.read.schema(TX_SCHEMA).json(str(d / "s1.json"))
    df2 = spark.read.schema(TX_SCHEMA).json(str(d / "s2.json"))
    new = mempool_diff(df2, df1)
    expect = {t["id"] for t in snap2} - {t["id"] for t in snap1}
    assert {r["id"] for r in new.select("id").collect()} == expect


def test_mempool_stream_exactly_once(spark, gen, tmp_path):
    txs = [t for b in gen.blocks[:20] for t in b["transactions"]][:12]
    snaps = [txs[0:6], txs[2:11], txs[3:12]]
    snap_dir = tmp_path / "snaps"
    snap_dir.mkdir()
    for i, s in enumerate(snaps):
        _write_tx_snapshot(snap_dir / f"s{i}.json", s)
    out = stream_new_txs(
        spark, str(snap_dir), str(tmp_path / "ckpt_mp")
    )
    q = (
        out.writeStream.format("memory")
        .queryName("mp_new")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select tx_id from mp_new").collect()
    ids = [r["tx_id"] for r in got]
    assert len(ids) == len(set(ids)), "duplicate emission"
    assert set(ids) == {t["id"] for t in txs[:12]}


def test_incremental_matches_batch(spark, gen, tmp_path):
    """Split the chain into 4 file-batches, stream them, compare the
    final UTXO snapshot to the batch pipeline's anti-join result."""
    blocks_dir = tmp_path / "blocks_in"
    blocks_dir.mkdir()
    chunks = [gen.blocks[i * 30 : (i + 1) * 30] for i in range(4)]
    for i, chunk in enumerate(chunks):
        write_jsonl_gz(chunk, str(blocks_dir / f"part{i}.jsonl.gz"))

    state_dir = str(tmp_path / "state")
    q = incremental_sync(
        spark,
        str(blocks_dir),
        state_dir,
        str(tmp_path / "ckpt_inc"),
        available_now=True,
    )
    q.awaitTermination(300)

    state = UtxoState(spark, state_dir)
    streamed = state.read()
    assert streamed is not None

    full_path = str(tmp_path / "full.jsonl.gz")
    write_jsonl_gz(gen.blocks, full_path)
    batch = ingest_blocks(spark, full_path)
    batch_ids = {r["box_id"] for r in batch["utxo"].select("box_id").collect()}
    stream_ids = {r["box_id"] for r in streamed.select("box_id").collect()}
    assert stream_ids == batch_ids


def test_unconfirmed_overlay(spark, gen, tmp_path):
    """Mempool overlay: unconfirmed spends drop boxes, unconfirmed
    outputs appear unflagged, chained mempool spends stay dead; applying
    the txs as a real block converges to the same live set."""
    from ergo_uexplorer_spark.sources.blocks import TX_SCHEMA
    from ergo_uexplorer_spark.streaming.mempool import unconfirmed_overlay

    full = write_jsonl_gz(gen.blocks, str(tmp_path / "full.jsonl.gz"))
    tables = ingest_blocks(spark, full)
    utxo = tables["utxo"]

    # craft a mempool: one tx spends a real utxo, a second spends the
    # first tx's output (chained)
    some = utxo.orderBy("box_id").first()
    mem = [
        {
            "id": "aa" * 32,
            "inputs": [{"boxId": some["box_id"],
                        "spendingProof": {"proofBytes": None, "extension": "{}"}}],
            "dataInputs": [],
            "outputs": [{"boxId": "bb" * 32, "value": 5, "creationHeight": 1,
                         "ergoTree": "0008cd" + "cc" * 33, "assets": [],
                         "additionalRegisters": {}}],
            "size": 100,
        },
        {
            "id": "dd" * 32,
            "inputs": [{"boxId": "bb" * 32,
                        "spendingProof": {"proofBytes": None, "extension": "{}"}}],
            "dataInputs": [],
            "outputs": [{"boxId": "ee" * 32, "value": 4, "creationHeight": 1,
                         "ergoTree": "0008cd" + "cc" * 33, "assets": [],
                         "additionalRegisters": {}}],
            "size": 100,
        },
    ]
    p = tmp_path / "mem.json"
    _write_tx_snapshot(p, mem)
    mem_df = spark.read.schema(TX_SCHEMA).json(str(p))

    overlay = unconfirmed_overlay(utxo, mem_df)
    rows = {r["box_id"]: r for r in overlay.collect()}
    assert some["box_id"] not in rows  # spent by mempool
    assert "bb" * 32 not in rows  # chained spend
    assert rows["ee" * 32]["confirmed"] is False
    n_conf = sum(1 for r in rows.values() if r["confirmed"])
    assert n_conf == utxo.count() - 1
    # set semantics match "what if these txs settled"
    assert len(rows) == utxo.count() - 1 + 1


def test_delta_commit_write_volume_is_o_batch(spark, gen, tmp_path):
    """The scale contract: committing a small batch on top of a large
    state writes only the batch's rows (created + spent ids), never the
    merged state — MvStorage's per-block commit, not a snapshot."""
    import os

    from ergo_uexplorer_spark.operators import normalize as N
    from ergo_uexplorer_spark.sources.blocks import read_blocks

    state = UtxoState(spark, str(tmp_path / "wv_state"), compact_every=0)
    p1 = write_jsonl_gz(gen.blocks[:100], str(tmp_path / "wv1.jsonl.gz"))
    p2 = write_jsonl_gz(gen.blocks[100:110], str(tmp_path / "wv2.jsonl.gz"))
    apply_block_batch_forkaware(state, read_blocks(spark, p1))
    v2 = apply_block_batch_forkaware(state, read_blocks(spark, p2))

    batch2_outputs = N.outputs(read_blocks(spark, p2)).count()
    v2_created = spark.read.parquet(
        os.path.join(state._vdir(v2), "created")
    ).count()
    state_rows = state.read().count()
    assert v2_created == batch2_outputs  # delta == batch, exactly
    assert v2_created < state_rows  # and much smaller than the state


def test_delta_compaction_and_pruning(spark, gen, tmp_path):
    """Compaction materializes a base on cadence; reads match the batch
    pipeline; pruning drops only deltas below a covering base while the
    rollback window stays readable."""
    from ergo_uexplorer_spark.sources.blocks import read_blocks

    state = UtxoState(
        spark, str(tmp_path / "cp_state"), compact_every=3, keep_versions=2
    )
    for i in range(4):
        p = write_jsonl_gz(
            gen.blocks[i * 30 : (i + 1) * 30], str(tmp_path / f"cp{i}.jsonl.gz")
        )
        apply_block_batch_forkaware(state, read_blocks(spark, p))
    assert state._has_base(3)
    # v1/v2 are below base v3, which covers the keep_versions=2 window
    assert state.versions() == [3, 4]

    full = write_jsonl_gz(gen.blocks, str(tmp_path / "cp_full.jsonl.gz"))
    batch = ingest_blocks(spark, full)
    batch_ids = {r["box_id"] for r in batch["utxo"].select("box_id").collect()}
    got = {r["box_id"] for r in state.read().select("box_id").collect()}
    assert got == batch_ids
    # the retained window is still reconstructable after pruning
    assert state.read(3) is not None


def test_utxo_state_rollback(spark, gen, tmp_path):
    """S10: rollbackTo(version) restores an older snapshot (fork
    recovery path)."""
    from ergo_uexplorer_spark.sources.blocks import read_blocks

    state = UtxoState(spark, str(tmp_path / "rb_state"))

    p1 = write_jsonl_gz(gen.blocks[:50], str(tmp_path / "c1.jsonl.gz"))
    p2 = write_jsonl_gz(gen.blocks[50:100], str(tmp_path / "c2.jsonl.gz"))
    v1 = apply_block_batch_forkaware(state, read_blocks(spark, p1))
    count_v1 = state.read().count()
    v2 = apply_block_batch_forkaware(state, read_blocks(spark, p2))
    assert state.current_version() == v2 == v1 + 1
    assert state.read().count() != count_v1
    state.rollback_to(v1)
    assert state.current_version() == v1
    assert state.read().count() == count_v1


def test_commit_exactly_once_on_batch_redelivery(spark, gen, tmp_path):
    """foreachBatch redelivers the last micro-batch after a crash between
    sink write and checkpoint commit; a batch_id-keyed commit must
    return the already-published version, not double-apply (the
    _batch_id marker)."""
    from ergo_uexplorer_spark.sources.blocks import read_blocks

    state = UtxoState(spark, str(tmp_path / "eo_state"))
    p1 = write_jsonl_gz(gen.blocks[:30], str(tmp_path / "eo1.jsonl.gz"))
    p2 = write_jsonl_gz(gen.blocks[30:60], str(tmp_path / "eo2.jsonl.gz"))

    v1 = apply_block_batch_forkaware(state, read_blocks(spark, p1), batch_id=0)
    n1 = state.read().count()
    # redelivery of batch 0 (same id): no new version, same state
    assert (
        apply_block_batch_forkaware(state, read_blocks(spark, p1), batch_id=0)
        == v1
    )
    assert state.current_version() == v1
    assert state.read().count() == n1
    # a NEW instance over the same dir (restart) still dedups by marker
    state2 = UtxoState(spark, str(tmp_path / "eo_state"))
    assert (
        apply_block_batch_forkaware(state2, read_blocks(spark, p1), batch_id=0)
        == v1
    )
    # the next batch advances normally
    v2 = apply_block_batch_forkaware(state2, read_blocks(spark, p2), batch_id=1)
    assert v2 == v1 + 1

def test_intra_batch_create_and_spend_nets_out(spark, tmp_path):
    """A box created AND spent inside the same micro-batch must not
    survive in UTXO state (a realistic case: micro-batches span many
    blocks)."""
    state = UtxoState(spark, str(tmp_path / "net_state"))
    mk = lambda rows: spark.createDataFrame(rows, "box_id string, value long")
    ids = lambda: {r["box_id"] for r in state.read().select("box_id").collect()}

    state.commit(mk([("a", 1), ("b", 2)]), mk([]).select("box_id"))
    assert ids() == {"a", "b"}
    # batch 2: creates c and d, spends c (same batch) and a (pre-existing)
    state.commit(
        mk([("c", 3), ("d", 4)]),
        mk([("c", 0), ("a", 0)]).select("box_id"),
    )
    assert ids() == {"b", "d"}


def test_streaming_corpus_refresh_cross_batch_base(spark, tmp_path):
    """Corpus refresh across batches: batch 1's accepted docs join the
    base that batch 2 is screened against (doc 3 near-dups doc 2, which
    was only accepted one batch earlier — a purely seed-based screen
    would wrongly keep it). Decisions record who displaced whom."""
    from ergo_uexplorer_spark.streaming.corpus_refresh import (
        process_batch,
        read_base,
        seed_base,
    )

    text_a = " ".join(f"a{i}" for i in range(120))
    text_b = " ".join(f"b{i}" for i in range(120))
    schema = "doc_id long, text string"
    seed = spark.createDataFrame(
        [(100, text_a)] + [
            (110 + i, " ".join(f"s{i}_{j}" for j in range(60)))
            for i in range(3)
        ],
        schema,
    )
    base_path = str(tmp_path / "base")
    seed_base(seed, base_path)
    dec_path = str(tmp_path / "decisions")

    # batch 1: doc 1 near-dups seed doc 100 (drop), doc 2 fresh (accept)
    process_batch(
        spark.createDataFrame(
            [(1, text_a.replace("a50", "q50")), (2, text_b)], schema
        ),
        0, base_path, decisions_path=dec_path,
    )
    # batch 2: doc 3 near-dups doc 2 — accepted ONE batch ago (drop);
    # doc 4 fresh (accept)
    process_batch(
        spark.createDataFrame(
            [(3, text_b.replace("b50", "q50")),
             (4, " ".join(f"c{j}" for j in range(120)))],
            schema,
        ),
        1, base_path, decisions_path=dec_path,
    )

    base_ids = {
        r["doc_id"] for r in read_base(spark, base_path).collect()
    }
    assert base_ids == {100, 110, 111, 112, 2, 4}
    dec = {
        r["doc_id"]: r for r in spark.read.parquet(dec_path).collect()
    }
    assert not dec[1]["keep"] and dec[1]["dup_of"] == 100
    assert dec[2]["keep"]
    assert not dec[3]["keep"] and dec[3]["dup_of"] == 2
    assert dec[4]["keep"]


def test_streaming_corpus_refresh_redelivery_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-processing the SAME batch id
    after its batch=<id> directory was already written must not screen
    the batch against its own first-attempt output (which would make
    every accepted doc near-dup itself and overwrite the directory with
    an empty set). process_batch twice == process_batch once."""
    from ergo_uexplorer_spark.streaming.corpus_refresh import (
        process_batch,
        read_base,
        seed_base,
    )

    text_a = " ".join(f"a{i}" for i in range(120))
    text_b = " ".join(f"b{i}" for i in range(120))
    base_path = str(tmp_path / "base")
    seed_base(
        spark.createDataFrame([(100, text_a)], "doc_id long, text string"),
        base_path,
    )
    batch = spark.createDataFrame(
        [(1, text_a.replace("a50", "q50")), (2, text_b)],
        "doc_id long, text string",
    )
    dec_path = str(tmp_path / "decisions")

    process_batch(batch, 0, base_path, decisions_path=dec_path)
    first = {r["doc_id"] for r in read_base(spark, base_path).collect()}
    assert first == {100, 2}  # doc 1 near-dups the seed, doc 2 accepted

    # redelivery: same batch, same id, base now contains batch=0
    process_batch(batch, 0, base_path, decisions_path=dec_path)
    again = {r["doc_id"] for r in read_base(spark, base_path).collect()}
    assert again == first  # doc 2 must NOT be lost to self-dedup

    dec = {
        r["doc_id"]: r for r in spark.read.parquet(dec_path).collect()
    }
    assert dec[2]["keep"] and not dec[1]["keep"] and dec[1]["dup_of"] == 100


def _assert_rollup_is_batch_top(spark, rollup, chain, tmp_path):
    """The token rollup's top-20 equals `top_tokens_by_box_count` over
    the assets of `chain`, the blocks the UTXO state holds; returns that
    answer."""
    from ergo_uexplorer_spark.operators import normalize as N
    from ergo_uexplorer_spark.operators.stats import top_tokens_by_box_count
    from ergo_uexplorer_spark.sources.blocks import read_blocks

    path = str(tmp_path / f"chain_{chain[-1]['header']['id']}.jsonl.gz")
    raw = read_blocks(spark, write_jsonl_gz(chain, path))
    assets = N.assets(N.outputs(raw))
    want = [tuple(r) for r in top_tokens_by_box_count(assets, k=20).collect()]
    assert [tuple(r) for r in rollup.top(20).collect()] == want
    return want


def test_fork_mid_stream_rollback_in_availablenow_loop(spark, tmp_path):
    """C3 under streaming (StreamSchedulerSpec.scala:78-83): a fork
    arriving MID-STREAM — prefix, main tip, a same-length losing branch,
    then a longer winning branch, each drained by its own availableNow
    run of the sync — must end in exactly the state of batch-
    recomputing the winning chain. The losing branch must leave state
    untouched; the winning one must roll back to the pre-divergence
    version and re-apply its blocks in the same micro-batch loop. The
    token rollup the sync maintains equals a batch recompute over the
    chain the state holds after every drain."""
    from ergo_uexplorer_spark.streaming.token_rollup import TokenStatsRollup

    n, fork_at = 60, 59
    gen = ChainGen(seed=33)
    gen.generate(n)
    shorter = gen.fork(fork_at, 0, "fshort")  # heights 59..60, ties
    longer = gen.fork(fork_at - 1, 1, "flong")  # heights 58..61, wins

    blocks_dir = tmp_path / "in"
    blocks_dir.mkdir()
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    rollup = TokenStatsRollup(spark, state_dir, compact_every=2)

    def drain(chain):
        q = incremental_sync(
            spark, str(blocks_dir), state_dir, ckpt, token_rollup=rollup
        )
        q.awaitTermination(300)
        return _assert_rollup_is_batch_top(spark, rollup, chain, tmp_path)

    def utxo_ids():
        df = UtxoState(spark, state_dir).read()
        return {r["box_id"] for r in df.select("box_id").collect()}

    # batch 1: common prefix 1..57; batch 2: main 58..60
    prefix = [b for b in gen.blocks if b["header"]["height"] <= fork_at - 2]
    write_jsonl_gz(prefix, str(blocks_dir / "b1.jsonl.gz"))
    drain(prefix)
    write_jsonl_gz(
        [b for b in gen.blocks if b["header"]["height"] > fork_at - 2],
        str(blocks_dir / "b2.jsonl.gz"),
    )
    main_top = drain(gen.blocks)
    state = UtxoState(spark, state_dir)
    assert state.tip()[0] == n
    main_ids = utxo_ids()

    # batch 3: the same-length branch loses — state must be untouched
    write_jsonl_gz(
        [b for b in shorter if b["header"]["height"] >= fork_at],
        str(blocks_dir / "b3.jsonl.gz"),
    )
    drain(gen.blocks)
    assert state.tip()[0] == n
    assert state.tip()[1] == gen.blocks[-1]["header"]["id"]
    assert utxo_ids() == main_ids

    # batch 4: the longer branch wins — rollback below height 58, then
    # the branch's four blocks applied as one new version
    v_before = state.current_version()
    write_jsonl_gz(
        [b for b in longer if b["header"]["height"] >= fork_at - 1],
        str(blocks_dir / "b4.jsonl.gz"),
    )
    assert drain(longer) != main_top
    assert state.tip() == (n + 1, longer[-1]["header"]["id"])
    # the losing tip's version was dropped before the new commit
    assert state.current_version() == v_before  # rollback freed v2's slot
    assert rollup.versions() == state.versions()

    win_path = str(tmp_path / "winning.jsonl.gz")
    write_jsonl_gz(longer, win_path)
    batch = ingest_blocks(spark, win_path)
    want = {r["box_id"] for r in batch["utxo"].select("box_id").collect()}
    assert utxo_ids() == want

    # replaying the winning batch id is a no-op (exactly-once survives
    # the rollback path too)
    from ergo_uexplorer_spark.sources.blocks import read_blocks

    raw = read_blocks(spark, str(blocks_dir / "b4.jsonl.gz"))
    v = apply_block_batch_forkaware(
        state, raw, batch_id=3, token_rollup=rollup
    )
    assert v == state.current_version() == rollup.current_version()
    assert utxo_ids() == want


def test_fork_mid_version_divergence_preserves_shared_ancestors(
    spark, tmp_path
):
    """Fork diverging in the MIDDLE of a multi-block version: versions
    cover [1..7] and [8..10], the winning branch's parent is block 9
    (divergence height 10). Rolling back to the newest version below the
    divergence (tip 7) must NOT lose the shared-ancestor blocks 8..9 —
    they are preserved from the rolled-back version's deltas and
    re-committed before the branch applies. Final state must equal a
    batch recompute of the winning chain 1..9 + branch, and the token
    rollup riding the same versions must equal a batch recompute over
    the held chain after every delivery."""
    from ergo_uexplorer_spark.sources.blocks import read_blocks
    from ergo_uexplorer_spark.streaming.token_rollup import TokenStatsRollup

    g = ChainGen(seed=77)
    g.generate(10)
    branch = g.fork(10, 1, "fmid")  # heights 10..11, parent = block 9

    state = UtxoState(spark, str(tmp_path / "state"))
    rollup = TokenStatsRollup(spark, str(tmp_path / "state"), compact_every=2)

    def heights(blocks, lo, hi):
        return [b for b in blocks if lo <= b["header"]["height"] <= hi]

    def apply_heights(blocks, lo, hi, batch_id):
        p = str(tmp_path / f"b_{lo}_{hi}.jsonl.gz")
        write_jsonl_gz(heights(blocks, lo, hi), p)
        return apply_block_batch_forkaware(
            state, read_blocks(spark, p), batch_id=batch_id, token_rollup=rollup
        )

    def rollup_top(chain):
        assert rollup.versions() == state.versions()
        return _assert_rollup_is_batch_top(spark, rollup, chain, tmp_path)

    assert apply_heights(g.blocks, 1, 7, 0) == 1
    rollup_top(heights(g.blocks, 1, 7))
    assert apply_heights(g.blocks, 8, 10, 1) == 2
    assert state.tip() == (10, g.blocks[-1]["header"]["id"])
    main_top = rollup_top(g.blocks)

    # branch heights 10..11 wins (11 > 10); divergence height 10 falls
    # inside version 2 ([8..10]) — blocks 8..9 must survive the rollback
    v = apply_heights(branch, 10, 11, 2)
    assert v == state.current_version()
    assert state.tip() == (11, branch[-1]["header"]["id"])
    branch_top = rollup_top(heights(g.blocks, 1, 9) + heights(branch, 10, 11))

    win_path = str(tmp_path / "winning.jsonl.gz")
    write_jsonl_gz(
        [b for b in g.blocks if b["header"]["height"] <= 9]
        + [b for b in branch if b["header"]["height"] >= 10],
        win_path,
    )
    want = {
        r["box_id"]
        for r in ingest_blocks(spark, win_path)["utxo"]
        .select("box_id")
        .collect()
    }
    got = {
        r["box_id"] for r in state.read().select("box_id").collect()
    }
    assert got == want

    # the preserved floor carries headers/tip, so a LATER fork anchored
    # at a preserved block still resolves: branch2 parent = block 8,
    # heights 9..12 (beats 11)
    branch2 = g.fork(9, 2, "fmid2")
    v2 = apply_heights(branch2, 9, 12, 3)
    assert v2 == state.current_version()
    assert state.tip() == (12, branch2[-1]["header"]["id"])
    branch2_top = rollup_top(heights(g.blocks, 1, 8) + heights(branch2, 9, 12))
    assert main_top != branch_top or branch_top != branch2_top
    win2 = str(tmp_path / "winning2.jsonl.gz")
    write_jsonl_gz(
        [b for b in g.blocks if b["header"]["height"] <= 8]
        + [b for b in branch2 if b["header"]["height"] >= 9],
        win2,
    )
    want2 = {
        r["box_id"]
        for r in ingest_blocks(spark, win2)["utxo"]
        .select("box_id")
        .collect()
    }
    got2 = {
        r["box_id"] for r in state.read().select("box_id").collect()
    }
    assert got2 == want2


def test_fork_aware_orphan_batch_is_noop(spark, tmp_path):
    """A branch that cannot link to the applied chain (its anchor block
    never arrived) must be skipped entirely — no commit, no rollback."""
    from ergo_uexplorer_spark.sources.blocks import read_blocks
    from ergo_uexplorer_spark.streaming.incremental import (
        UtxoState,
        apply_block_batch_forkaware,
    )

    gen = ChainGen(seed=11)
    gen.generate(30)
    state = UtxoState(spark, str(tmp_path / "state"))

    base = str(tmp_path / "base.jsonl.gz")
    write_jsonl_gz(gen.blocks[:20], base)
    v1 = apply_block_batch_forkaware(state, read_blocks(spark, base))
    assert v1 == 1 and state.tip()[0] == 20

    # blocks 25..30 without 21..24: parents never anchor
    orphan = str(tmp_path / "orphan.jsonl.gz")
    write_jsonl_gz(gen.blocks[24:], orphan)
    v2 = apply_block_batch_forkaware(state, read_blocks(spark, orphan))
    assert v2 is None
    assert state.current_version() == 1
    assert state.tip()[0] == 20

    # the gap arrives later: 21..30 now anchors at the tip and applies
    rest = str(tmp_path / "rest.jsonl.gz")
    write_jsonl_gz(gen.blocks[20:], rest)
    v3 = apply_block_batch_forkaware(state, read_blocks(spark, rest))
    assert v3 == 2 and state.tip()[0] == 30


@pytest.mark.parametrize("seed", [101, 202, 303, 404])
def test_fork_aware_randomized_scenarios_match_batch(spark, tmp_path, seed):
    """Property-style fork fuzz: random batch splits (so version
    boundaries fall at arbitrary heights — the mid-version divergence
    class), a random same-height losing branch mid-sequence, a foreign
    orphan batch, then two successively taller winning branches (the
    second diverging below the first → double rollback). Whatever the
    random layout, the final state must equal the batch recompute of
    the last winning chain, and the losing/orphan deliveries must be
    no-ops at the moment they happen. The token rollup driven through
    the same resolution (compacting every 2 versions) must equal a batch
    recompute over the chain the state holds after every delivery."""
    import random as _random

    from ergo_uexplorer_spark.sources.blocks import read_blocks
    from ergo_uexplorer_spark.streaming.token_rollup import TokenStatsRollup

    rng = _random.Random(seed)
    n = 24
    g = ChainGen(seed=seed)
    g.generate(n)

    state = UtxoState(spark, str(tmp_path / "state"))
    rollup = TokenStatsRollup(spark, str(tmp_path / "state"), compact_every=2)
    next_batch = [0]
    held = []  # the chain the state holds after the last delivery
    tops = []  # the rollup's answer after each delivery

    def deliver(blocks, now_held=None):
        p = str(tmp_path / f"b{next_batch[0]}.jsonl.gz")
        write_jsonl_gz(blocks, p)
        v = apply_block_batch_forkaware(
            state,
            read_blocks(spark, p),
            batch_id=next_batch[0],
            token_rollup=rollup,
        )
        next_batch[0] += 1
        if now_held is not None:
            held[:] = now_held
        assert rollup.versions() == state.versions()
        tops.append(_assert_rollup_is_batch_top(spark, rollup, held, tmp_path))
        return v

    # random contiguous batch splits of the main chain
    cuts = sorted(rng.sample(range(2, n), k=rng.randint(2, 4)))
    bounds = [0] + cuts + [n]
    applied_h = 0
    for lo, hi in zip(bounds, bounds[1:]):
        deliver(g.blocks[lo:hi], g.blocks[:hi])
        applied_h = hi
        assert state.tip() == (hi, g.blocks[hi - 1]["header"]["id"])
        if applied_h == bounds[1]:
            # foreign orphan: a chain with unknown parents → no-op
            foreign = ChainGen(seed=seed + 999)
            foreign.generate(8)
            tip_before = state.tip()
            assert deliver(foreign.blocks[4:]) is None
            assert state.tip() == tip_before
        if applied_h == bounds[2]:
            # same-height branch: tie loses, state untouched
            d = rng.randint(max(2, applied_h - 5), applied_h - 1)
            tie = [
                b
                for b in g.fork(d, 0, f"tie{seed}")
                if d <= b["header"]["height"] <= applied_h
            ]
            tip_before = state.tip()
            ids_before = {
                r["box_id"] for r in state.read().select("box_id").collect()
            }
            assert deliver(tie) is None
            assert state.tip() == tip_before
            assert {
                r["box_id"] for r in state.read().select("box_id").collect()
            } == ids_before

    # winning branch 1: taller by 1, diverges within the retained window
    d1 = rng.randint(n - 6, n)
    w1 = [b for b in g.fork(d1, 1, f"w1{seed}") if b["header"]["height"] >= d1]
    deliver(w1, [b for b in g.blocks if b["header"]["height"] < d1] + w1)
    assert state.tip() == (n + 1, w1[-1]["header"]["id"])

    # winning branch 2: taller by 2, diverging at or below d1
    d2 = rng.randint(n - 7, d1)
    w2 = [b for b in g.fork(d2, 2, f"w2{seed}") if b["header"]["height"] >= d2]
    deliver(w2, [b for b in g.blocks if b["header"]["height"] < d2] + w2)
    assert state.tip() == (n + 2, w2[-1]["header"]["id"])
    # the check is not vacuous: a winning branch changed the answer
    assert tops[-3] != tops[-2] or tops[-2] != tops[-1]

    win_path = str(tmp_path / "winning.jsonl.gz")
    write_jsonl_gz(
        [b for b in g.blocks if b["header"]["height"] < d2] + w2, win_path
    )
    want = {
        r["box_id"]
        for r in ingest_blocks(spark, win_path)["utxo"]
        .select("box_id")
        .collect()
    }
    got = {r["box_id"] for r in state.read().select("box_id").collect()}
    assert got == want


def test_rollup_ahead_after_crash_heals_on_redelivery(spark, tmp_path):
    """A crash after the token rollup's commit but before the state's
    leaves the rollup one version ahead; redelivering the batch through
    the apply commits only the state, so each store holds the batch
    exactly once and both still equal a batch recompute."""
    from ergo_uexplorer_spark.operators import normalize as N
    from ergo_uexplorer_spark.sources.blocks import read_blocks
    from ergo_uexplorer_spark.streaming.token_rollup import (
        TokenStatsRollup,
        token_partials,
    )

    g = ChainGen(seed=19)
    g.generate(20)
    state = UtxoState(spark, str(tmp_path / "state"))
    rollup = TokenStatsRollup(spark, str(tmp_path / "state"))
    first, second = (
        read_blocks(spark, write_jsonl_gz(blocks, str(tmp_path / name)))
        for blocks, name in [
            (g.blocks[:10], "a.jsonl.gz"),
            (g.blocks[10:], "b.jsonl.gz"),
        ]
    )
    v1 = apply_block_batch_forkaware(
        state, first, batch_id=0, token_rollup=rollup
    )
    assert v1 == 1
    # the crash: batch 1 reached the rollup only
    partials = token_partials(N.assets(N.outputs(second)))
    assert rollup.commit(partials, batch_id=1) == 2
    assert state.current_version() == 1
    for _ in range(2):  # the redelivery, then a replay of it
        v = apply_block_batch_forkaware(
            state, second, batch_id=1, token_rollup=rollup
        )
        assert v == 2
        assert state.versions() == rollup.versions() == [1, 2]
        assert state.batch_version(1) == rollup.batch_version(1) == 2
    _assert_rollup_is_batch_top(spark, rollup, g.blocks, tmp_path)
    full = write_jsonl_gz(g.blocks, str(tmp_path / "full.jsonl.gz"))
    batch = ingest_blocks(spark, full)
    want = {r["box_id"] for r in batch["utxo"].select("box_id").collect()}
    assert {r["box_id"] for r in state.read().select("box_id").collect()} == want


def test_rollup_retention_shorter_than_fork_raises(spark, tmp_path):
    """A winning fork whose rollback target the token rollup has already
    pruned raises before either store is rolled back."""
    from ergo_uexplorer_spark.sources.blocks import read_blocks
    from ergo_uexplorer_spark.streaming.token_rollup import TokenStatsRollup

    g = ChainGen(seed=23)
    g.generate(30)
    state = UtxoState(spark, str(tmp_path / "state"))
    rollup = TokenStatsRollup(
        spark, str(tmp_path / "state"), compact_every=1, keep_versions=1
    )

    def deliver(blocks, batch_id):
        p = write_jsonl_gz(blocks, str(tmp_path / f"b{batch_id}.jsonl.gz"))
        return apply_block_batch_forkaware(
            state, read_blocks(spark, p), batch_id=batch_id, token_rollup=rollup
        )

    for i in range(3):
        deliver(g.blocks[10 * i : 10 * i + 10], i)
    assert (state.versions(), rollup.versions()) == ([1, 2, 3], [3])
    # heights 21..31 beat the tip 30; the state would roll back to v2
    fork = [b for b in g.fork(21, 1, "deep") if b["header"]["height"] >= 21]
    with pytest.raises(RuntimeError, match="token rollup's retained window"):
        deliver(fork, 3)
    assert (state.versions(), rollup.versions()) == ([1, 2, 3], [3])
    assert state.tip() == (30, g.blocks[-1]["header"]["id"])


def _deliver_forkaware(spark, state, blocks, path):
    """(version, Spark jobs run) of one fork-aware delivery of `blocks`,
    counting the jobs under a job group."""
    from ergo_uexplorer_spark.sources.blocks import read_blocks
    from ergo_uexplorer_spark.streaming.incremental import (
        apply_block_batch_forkaware,
    )

    raw = read_blocks(spark, write_jsonl_gz(blocks, f"{path}.jsonl.gz"))
    sc = spark.sparkContext
    sc.setJobGroup(str(path), "count")
    try:
        v = apply_block_batch_forkaware(state, raw)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # feeds the status store
    return v, len(sc.statusTracker().getJobIdsForGroup(str(path)))


def test_fork_aware_sync_job_budget(spark, tmp_path):
    """An extend runs the header collect and the created and spent
    writes (at most 3 jobs without compaction); a tie or orphan runs the
    header collect alone, however many versions are retained."""
    g = ChainGen(seed=5)
    g.generate(40)
    tie = [b for b in g.fork(28, 0, "t") if 28 <= b["header"]["height"] <= 30]
    state = UtxoState(spark, str(tmp_path / "state"), compact_every=0)
    for i in range(3):
        v, jobs = _deliver_forkaware(
            spark, state, g.blocks[10 * i : 10 * i + 10], tmp_path / f"m{i}"
        )
        assert v == i + 1 and jobs <= 3, (i, jobs)
    assert _deliver_forkaware(spark, state, tie, tmp_path / "t") == (None, 1)
    orphan = g.blocks[34:]
    assert _deliver_forkaware(spark, state, orphan, tmp_path / "o") == (None, 1)
    assert state.tip() == (30, g.blocks[29]["header"]["id"])


def test_applied_headers_rejects_pre_sidecar_layout(spark, tmp_path):
    """A retained version with the old `headers/` parquet table and no
    `_headers.json` must fail loudly: read as header-less, the fork
    window would be empty and every later batch skipped as an orphan."""
    g = ChainGen(seed=9)
    g.generate(20)
    state = UtxoState(spark, str(tmp_path / "state"))
    _deliver_forkaware(spark, state, g.blocks[:10], tmp_path / "a")
    vdir = state._vdir(1)
    spark.createDataFrame(
        [(b, h, p) for b, (h, p) in state.applied_headers().items()],
        "block_id string, height int, parent_id string",
    ).write.parquet(os.path.join(vdir, "headers"))
    os.remove(os.path.join(vdir, "_headers.json"))
    with pytest.raises(RuntimeError, match="pre-sidecar state layout"):
        state.applied_headers()
    with pytest.raises(RuntimeError, match="_headers.json"):
        _deliver_forkaware(spark, state, g.blocks[10:], tmp_path / "b")
    assert state.current_version() == 1


def test_sync_tree_columns_equal_dimension_join(spark, tmp_path):
    """The sync path's row-wise tree columns equal the ingest path's
    join against the tree dimension, with a hot tree on many outputs, a
    malformed-hex tree and a null tree (dropped on both sides)."""
    from ergo_uexplorer_spark.fixtures.chaingen import EXCHANGE_PK, p2pk_tree
    from ergo_uexplorer_spark.operators import normalize as N
    from ergo_uexplorer_spark.sources.blocks import read_blocks
    from ergo_uexplorer_spark.streaming.incremental import UTXO_COLS

    g = ChainGen(seed=13)
    g.generate(20)
    outs = g.blocks[7]["transactions"][0]["outputs"]
    planted = [p2pk_tree(EXCHANGE_PK)] * 40 + ["0008cdzz", None]
    outs += [
        dict(outs[0], boxId=f"{i:064x}", ergoTree=t, assets=[])
        for i, t in enumerate(planted)
    ]
    state = UtxoState(spark, str(tmp_path / "state"))
    v, _ = _deliver_forkaware(spark, state, g.blocks, tmp_path / "p")
    got = spark.read.parquet(os.path.join(state._vdir(v), "created"))
    out = N.outputs(read_blocks(spark, f"{tmp_path / 'p'}.jsonl.gz"))
    want = N.boxes(out, N.ergo_trees(out)).select(*UTXO_COLS)
    got_rows = sorted(got.select(*UTXO_COLS).collect())
    assert got_rows == sorted(want.collect())
    assert len(got_rows) == out.count() - 1  # only the null tree drops
    assert f"{41:064x}" not in {r["box_id"] for r in got_rows}
