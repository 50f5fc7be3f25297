"""Physical-plan quality gates: pushdown, pruning, broadcasts. A plan
regression (e.g. a lost broadcast after a refactor) fails here even while
results stay correct."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ergo_uexplorer_spark.plans.explain import (
    assert_broadcast_join,
    assert_column_pruned,
    assert_filter_pushed,
    assert_no_cartesian,
    whole_stage_codegen_spans,
)
from ergo_uexplorer_spark.suite import REGISTRY

SF_DIR = "/root/testdata/sf0.001"


def test_point_lookup_pushdown(spark):
    df = REGISTRY["zz_q01_point_lookup"].fn(spark, SF_DIR)
    assert_filter_pushed(df, "o_orderkey")


def test_inlist_pushdown(spark):
    df = REGISTRY["zz_q02_inlist_lookup"].fn(spark, SF_DIR)
    assert_filter_pushed(df, "o_orderkey")
    # projection pruning: o_totalprice not in any ReadSchema
    assert_column_pruned(df, "o_totalprice")


def test_dynamic_predicates_pushed(spark):
    df = REGISTRY["zz_q09_dynamic_predicate"].fn(spark, SF_DIR)
    assert_filter_pushed(df, "l_returnflag")
    assert_filter_pushed(df, "l_linestatus")
    assert_column_pruned(df, "l_extendedprice")


def test_dim_joins_broadcast(spark):
    assert_broadcast_join(REGISTRY["zz_q05_three_way_join"].fn(spark, SF_DIR))
    assert_broadcast_join(REGISTRY["zz_b03_shipping_priority"].fn(spark, SF_DIR))


def test_ann_no_unbounded_cartesian(spark):
    # brute-force ANN is a *broadcast* nested loop (bounded query side),
    # never a shuffled cartesian
    df = REGISTRY["zz_s01_ann_bruteforce_cosine"].fn(spark, SF_DIR)
    assert_no_cartesian(df)


@pytest.mark.parametrize("name", ["zz_s02_ann_lsh_bucketed", "zz_s03_ann_ivf_fixed"])
def test_bucketed_ann_plans_are_equijoins(spark, name):
    """The bucketed ANN paths must candidate-join on the bucket/cell key
    — no cartesian and no nested-loop join; the corpus side is hash-
    partitioned by the key and never replicated."""
    from ergo_uexplorer_spark.plans.explain import formatted_plan

    df = REGISTRY[name].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    assert "BroadcastNestedLoopJoin" not in plan, f"{name}: nested-loop join"


@pytest.fixture
def checkpointed_plans(monkeypatch):
    """Every frame `localCheckpoint`ed during the test, as its formatted
    plan. Staged operators checkpoint each stage (signatures,
    candidates) and their output, which hides those joins from the
    final plan; this list is where a plan gate sees them."""
    from pyspark.sql.classic.dataframe import DataFrame

    from ergo_uexplorer_spark.plans.explain import formatted_plan

    plans: list[str] = []
    local_checkpoint = DataFrame.localCheckpoint

    def recording(self, *args, **kwargs):
        plans.append(formatted_plan(self))
        return local_checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "localCheckpoint", recording)
    return plans


def _assert_no_product(stages: list[str], df, name: str) -> None:
    """No CartesianProduct and no nested-loop join in any checkpointed
    stage or in the final plan; at least one stage was recorded, so a
    recorder that catches nothing fails."""
    from ergo_uexplorer_spark.plans.explain import formatted_plan

    assert stages, f"{name}: no checkpointed stage recorded"
    for plan in [*stages, formatted_plan(df)]:
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"
        assert "BroadcastNestedLoopJoin" not in plan, f"{name}: nested-loop join"


def _near_dup_raw_plans(spark, name: str):
    """Build near-dup entry `name` with its operators' defaults — the
    plans the registry really runs. The candidate/verify operators
    checkpoint their stages and their output, so the joins show up in
    the `checkpointed_plans` recorder, not in the returned frame."""
    from ergo_uexplorer_spark.operators.dedup import (
        jaccard_prefix_pairs,
        minhash_lsh_pairs,
    )
    from ergo_uexplorer_spark.operators.similarity import near_dup_pairs
    from ergo_uexplorer_spark.suite.base import load
    from ergo_uexplorer_spark.suite.similarity import _NEAR_DUP_T

    docs, emb = load(spark, SF_DIR, "documents", "embeddings")
    return {
        "zz_d02_dedup_ngram_jaccard": lambda: jaccard_prefix_pairs(
            docs, num=4, den=5
        ),
        "zz_d03_dedup_minhash_lsh": lambda: minhash_lsh_pairs(
            docs, num=4, den=5
        ),
        "zz_d04_dedup_simhash": lambda: REGISTRY["zz_d04_dedup_simhash"].fn(
            spark, SF_DIR
        ),
        "zz_d05_dedup_embedding_cosine": lambda: near_dup_pairs(
            emb, threshold=_NEAR_DUP_T
        ),
    }[name]()


@pytest.mark.parametrize(
    "name",
    [
        "zz_d02_dedup_ngram_jaccard",
        "zz_d03_dedup_minhash_lsh",
        "zz_d04_dedup_simhash",
        "zz_d05_dedup_embedding_cosine",
    ],
)
def test_near_dup_plans_are_bucketed(spark, checkpointed_plans, name):
    """The registered near-dup plans are candidate-join shaped: no
    CartesianProduct and no nested-loop join of any kind — pair
    generation must be an equi-join on a bucket/block/prefix key."""
    df = _near_dup_raw_plans(spark, name)
    _assert_no_product(checkpointed_plans, df, name)


def test_decontaminate_broadcasts_eval_grams(spark):
    """z03: the eval-gram membership probe must broadcast the (tiny)
    eval side — the training corpus never shuffles for it — and the
    whole plan stays cartesian-free."""
    df = REGISTRY["zz_z03_decontaminate"].fn(spark, SF_DIR)
    assert_broadcast_join(df)
    assert_no_cartesian(df)


def test_stratified_sample_is_narrow(spark):
    """z05 is a pure projection+filter: no exchange of any kind in the
    plan (the keep decision is a function of the row alone)."""
    from ergo_uexplorer_spark.plans.explain import formatted_plan

    df = REGISTRY["zz_z05_stratified_sample"].fn(spark, SF_DIR)
    assert "Exchange" not in formatted_plan(df)


def test_new_entry_plans_are_joined_sanely(spark):
    """z06/z10: tf/df scoring is equi-joined (no cartesian of any
    kind); chunking stays exchange-free. z08's registered entry returns
    a checkpointed RDD (the rounds already ran), so its per-round join
    shape is asserted on a live un-truncated plan below."""
    from ergo_uexplorer_spark.plans.explain import formatted_plan

    plan = formatted_plan(REGISTRY["zz_z06_tfidf_top_terms"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Exchange" not in formatted_plan(
        REGISTRY["zz_z10_chunking"].fn(spark, SF_DIR)
    )


def test_pagerank_round_broadcasts_rank_table(spark):
    """The per-round edges⋈ranks join must broadcast the node-dim rank
    table (the edge table never re-exchanges across rounds); inspected
    on an un-checkpointed single round."""
    from ergo_uexplorer_spark.operators.graph import pagerank_int
    from ergo_uexplorer_spark.plans.explain import formatted_plan

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    # broadcast_tables=True pins the DISTRIBUTED loop's forced-broadcast
    # round (a tiny default-gated graph takes the single-Arrow-task
    # tier since r11 and has no per-round join at all)
    df = pagerank_int(
        edges, iters=1, checkpoint_every=0, broadcast_tables=True
    )
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pagerank_auto_gate_demotes_oversized_rank_table(
    spark, one_task_off
):
    """broadcast_tables=None (default) must compare the materialized
    rank-table size against autoBroadcastJoinThreshold: under it the
    per-round join is a BroadcastHashJoin; with broadcasting disabled
    (threshold -1, i.e. "node dim exceeds budget") the SAME call must
    demote to SortMergeJoin instead of forcing a broadcast — the
    billions-of-vertices safety gate."""
    from ergo_uexplorer_spark.operators.graph import pagerank_int
    from ergo_uexplorer_spark.plans.explain import formatted_plan

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    # a one-task budget of 0 opts out of the single-Arrow-task tier so
    # the distributed auto-gate logic itself is what gets inspected
    with one_task_off():
        under = formatted_plan(
            pagerank_int(edges, iters=1, checkpoint_every=0)
        )
    assert "BroadcastHashJoin" in under

    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        with one_task_off():
            over = formatted_plan(
                pagerank_int(edges, iters=1, checkpoint_every=0)
            )
    finally:
        spark.conf.set(key, prev)
    assert "SortMergeJoin" in over
    assert "BroadcastHashJoin" not in over
    # explicit override still forces the broadcast
    spark.conf.set(key, "-1")
    try:
        forced = formatted_plan(
            pagerank_int(
                edges, iters=1, checkpoint_every=0, broadcast_tables=True
            )
        )
    finally:
        spark.conf.set(key, prev)
    assert "BroadcastHashJoin" in forced


def test_incremental_dedup_plan_is_bucketed(spark, checkpointed_plans):
    """z21: cross-side candidate generation must be an equi-join on
    (band, bsig) — no cartesian / nested-loop anywhere, same gate as the
    one-shot near-dup family (the recorder sees the staged joins)."""
    from ergo_uexplorer_spark.operators.curation import sample_bucket
    from ergo_uexplorer_spark.operators.dedup import incremental_dedup
    from ergo_uexplorer_spark.suite.base import load
    from ergo_uexplorer_spark.suite.dedup import _INCR_RATE, _INCR_SALT

    (docs,) = load(spark, SF_DIR, "documents")
    bucket = sample_bucket(F.col("doc_id"), _INCR_SALT)
    df = incremental_dedup(
        docs.filter(bucket < _INCR_RATE), docs.filter(bucket >= _INCR_RATE)
    )
    _assert_no_product(checkpointed_plans, df, "incremental_dedup")


def test_semantic_dedup_plan_is_cell_scoped(spark, checkpointed_plans):
    """z23: within-cell pairing must be an equi-join on the cell id —
    no cartesian / nested-loop product over the vector table."""
    from ergo_uexplorer_spark.operators.similarity import (
        FIXED_CENTROIDS,
        semantic_dedup,
    )
    from ergo_uexplorer_spark.suite.base import load

    (emb,) = load(spark, SF_DIR, "embeddings")
    df = semantic_dedup(emb, list(FIXED_CENTROIDS), threshold=0.4)
    _assert_no_product(checkpointed_plans, df, "semantic_dedup")


def test_quality_floor_broadcasts_floors(spark):
    """z22: the per-group floor table (one row per source) must
    broadcast back into the keep-filter; the corpus is never sorted
    (no global Sort outside window-over-counts)."""
    df = REGISTRY["zz_z22_quality_floor"].fn(spark, SF_DIR)
    assert_broadcast_join(df)
    assert_no_cartesian(df)


def test_vocab_oov_broadcasts_vocab(spark):
    """z26: the V-row vocabulary must broadcast into the corpus-side
    membership probe (the corpus never shuffles for it)."""
    df = REGISTRY["zz_z26_vocab_oov"].fn(spark, SF_DIR)
    assert_broadcast_join(df)
    assert_no_cartesian(df)


def test_codegen_alive(spark):
    df = REGISTRY["zz_b01_pricing_summary"].fn(spark, SF_DIR)
    assert whole_stage_codegen_spans(df) >= 1


def test_chain_pipeline_plan(spark, tmp_path):
    from ergo_uexplorer_spark.fixtures.chaingen import ChainGen, write_jsonl_gz
    from ergo_uexplorer_spark.pipeline import ingest_blocks

    gen = ChainGen(seed=3)
    gen.generate(60)
    path = write_jsonl_gz(gen.blocks, str(tmp_path / "c.jsonl.gz"))
    tables = ingest_blocks(spark, path)
    # tree-dimension join into the box fact table must broadcast
    assert_broadcast_join(tables["boxes_main"])
    # height-resume filter lands in the json scan's data filters
    from ergo_uexplorer_spark.sources.blocks import read_blocks

    resumed = read_blocks(spark, path, from_height=30)
    plan = resumed.select(F.col("header.height")).columns  # force analysis
    assert plan == ["height"]


def test_local_frame_equals_create_dataframe(spark):
    """`local_frame` returns what `createDataFrame(rows, schema)` does for
    every column type the driver-side lists carry, planned as a
    LocalRelation with no Python RDD under it."""
    from ergo_uexplorer_spark.operators.util import local_frame
    from ergo_uexplorer_spark.plans.explain import python_list_scans

    ddl = (
        "i int, b bigint, s smallint, d double, t string, v array<double>"
    )
    rows = [
        (None, 2**53 + 1, 7, 1.5, "é漢\u00e9", [1.0, None, -0.0]),
        (2**31 - 1, -(2**63), None, None, None, None),
        (-3, None, -(2**15), float("inf"), "", []),
    ]
    for case in (rows, []):
        want = spark.createDataFrame(case, ddl)
        got = local_frame(spark, case, ddl)
        assert got.schema == want.schema
        assert got.collect() == want.collect()
        leaf = got._jdf.queryExecution().optimizedPlan()
        assert leaf.nodeName() == "LocalRelation"
        assert python_list_scans(got) == []
        assert python_list_scans(want)  # the check sees the list scan


def test_ingest_plans_scan_no_python_list(spark, tmp_path):
    """Over a forked dump, no leaf of the `blocks`, `utxo` or
    `address_stats` plans scans a Python RDD (each such scan is one
    Python worker task per partition, per job), and the `blocks`
    prefix columns come from one Window operator."""
    from ergo_uexplorer_spark.fixtures.chaingen import ChainGen, write_jsonl_gz
    from ergo_uexplorer_spark.pipeline import ingest_blocks
    from ergo_uexplorer_spark.plans.explain import python_list_scans

    gen = ChainGen(seed=3)
    gen.generate(60)
    fork = [b for b in gen.fork(55, 1, "f") if b["header"]["height"] >= 55]
    path = write_jsonl_gz(gen.blocks + fork, str(tmp_path / "f.jsonl.gz"))
    tables = ingest_blocks(spark, path)
    assert tables["headers_main"].count() == 61
    for name in ("blocks", "utxo", "address_stats"):
        assert python_list_scans(tables[name]) == [], name
    plan = tables["blocks"]._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Window [") == 1, plan


def test_ingest_gold_plans_read_the_on_main_boxes(spark, tmp_path):
    """`blocks`, `utxo` and `address_stats` are planned exactly as when
    every ingest table read the semi-joined on-main boxes: the
    `spent_height` join on `boxes_main` adds no work to the gold
    tables. Compared as canonicalized optimized plans."""
    from ergo_uexplorer_spark.fixtures.chaingen import ChainGen, write_jsonl_gz
    from ergo_uexplorer_spark.operators import normalize as N
    from ergo_uexplorer_spark.operators.blockstats import build_block_table
    from ergo_uexplorer_spark.operators.chain import resolve_main_chain
    from ergo_uexplorer_spark.operators.utxo import address_stats, utxo
    from ergo_uexplorer_spark.pipeline import ingest_blocks
    from ergo_uexplorer_spark.sources.blocks import read_blocks

    gen = ChainGen(seed=3)
    gen.generate(60)
    fork = [b for b in gen.fork(55, 1, "f") if b["header"]["height"] >= 55]
    path = write_jsonl_gz(gen.blocks + fork, str(tmp_path / "f.jsonl.gz"))
    tables = ingest_blocks(spark, path)

    silver = N.normalize(read_blocks(spark, path))
    hdrs = resolve_main_chain(silver["headers"])
    main_ids = F.broadcast(hdrs.filter("main_chain").select("block_id"))

    def on_main(name: str):
        return silver[name].join(main_ids, "block_id", "left_semi")

    boxes_main = on_main("boxes")
    utxo_df = utxo(boxes_main, on_main("inputs"))
    want = {
        "blocks": build_block_table(
            hdrs.filter("main_chain"), on_main("transactions"), boxes_main
        ),
        "utxo": utxo_df,
        "address_stats": address_stats(utxo_df),
    }

    def canon(df) -> str:
        plan = df._jdf.queryExecution().optimizedPlan()
        return plan.canonicalized().toString()

    for name, df in want.items():
        assert canon(tables[name]) == canon(df), name
    assert "spent_height" in tables["boxes_main"].columns


def test_r6_extras_plans_have_no_unbounded_products(spark):
    """Every z35–z52 entry must be free of cartesian/nested-loop joins.
    The single exception is z42's final scalar crossJoin (two one-row
    aggregates, a bounded broadcast product by construction), checked
    separately."""
    from ergo_uexplorer_spark.plans.explain import formatted_plan

    names = [
        n
        for n in REGISTRY
        if n.startswith("zz_z") and "z35" <= n[3:6] <= "z52"
    ]
    assert len(names) == 18
    for name in names:
        plan = formatted_plan(REGISTRY[name].fn(spark, SF_DIR))
        assert "CartesianProduct" not in plan, name
        if name != "zz_z42_triangle_count":
            assert "BroadcastNestedLoopJoin" not in plan, name
        else:
            # only the scalar n_edges × n_triangles join may nest
            # (formatted explain prints each node twice: tree + detail)
            import re as _re

            nodes = set(
                _re.findall(r"\(\d+\)\s+BroadcastNestedLoopJoin", plan)
            )
            assert len(nodes) <= 1


def test_r7_zy_plans_have_no_unbounded_products(spark):
    """Every zy1–zy6 entry must be free of cartesian/nested-loop joins —
    the fuzzy join is blocked (equi keys), the interpolation grid joins
    on (key, bucket), assortativity joins on node ids."""
    from ergo_uexplorer_spark.plans.explain import formatted_plan

    names = [
        n
        for n in REGISTRY
        if n.startswith("zy") and n[2].isdigit()  # zy1–zy9, not zya/zyb
    ]
    assert len(names) == 9
    for name in names:
        plan = formatted_plan(REGISTRY[name].fn(spark, SF_DIR))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_r7_zy3_single_window_exchange(spark):
    """zy3's two ignorenulls carries (prev/next) share one partition +
    order spec, so Catalyst must plan them over a SINGLE shuffle on the
    key — a second Exchange on o_custkey would double the cost."""
    from ergo_uexplorer_spark.plans.explain import formatted_plan

    plan = formatted_plan(REGISTRY["zy3_linear_interp"].fn(spark, SF_DIR))
    import re

    w_exchanges = re.findall(
        r"Exchange hashpartitioning\(o_custkey", plan
    )
    # one for the grid-side agg/join co-partitioning family, one for
    # the window — but never one PER window direction; the two window
    # frames must share
    assert len(w_exchanges) <= 3, plan[:1500]


def test_r7_zya_plans_have_no_unbounded_products(spark):
    """zya1–zya9 must be free of cartesian/nested-loop joins. Exception:
    zya2's per-relation crossJoin of two ONE-ROW aggregates (child_rows
    × orphans — bounded by construction, like z42's scalar join): allow
    exactly one nested-loop node per FK relation there, none elsewhere."""
    import re as _re

    from ergo_uexplorer_spark.plans.explain import formatted_plan
    from ergo_uexplorer_spark.suite.zya import _FK_RELATIONS

    names = [n for n in REGISTRY if n.startswith("zya")]
    assert len(names) == 9
    for name in names:
        plan = formatted_plan(REGISTRY[name].fn(spark, SF_DIR))
        assert "CartesianProduct" not in plan, name
        if name == "zya2_fk_audit":
            nodes = set(
                _re.findall(r"\(\d+\)\s+BroadcastNestedLoopJoin", plan)
            )
            assert len(nodes) <= len(_FK_RELATIONS)
        else:
            assert "BroadcastNestedLoopJoin" not in plan, name


def test_r7_zyb_plans_have_no_unbounded_products(spark):
    """zyb1–zyb5 must be free of cartesian/nested-loop joins — every
    rank/lookup is an equi-join (ladder index, period, histogram key);
    the only broadcast dims are the tiny group-size tables."""
    from ergo_uexplorer_spark.plans.explain import formatted_plan

    names = [n for n in REGISTRY if n.startswith("zyb")]
    assert len(names) == 5
    for name in names:
        plan = formatted_plan(REGISTRY[name].fn(spark, SF_DIR))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_hashed_shingle_arrays_has_no_exchange(spark):
    """The doc-dim sorted-hash-array build must be ONE codegen scan —
    zero Exchange (no explode+distinct shuffle, no per-doc window), the
    structural claim the round-8 dedup rewrite rests on."""
    from ergo_uexplorer_spark.operators.dedup import hashed_shingle_arrays
    from ergo_uexplorer_spark.plans.explain import formatted_plan
    from ergo_uexplorer_spark.suite.base import load

    (docs,) = load(spark, SF_DIR, "documents")
    plan = formatted_plan(hashed_shingle_arrays(docs))
    # the only allowed Exchange is ensure_parallelism's ROUND-ROBIN
    # spread of an under-split scan (a no-op at real scale); any
    # hash/range exchange would mean a shuffle crept back in
    assert "hashpartitioning" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert "Window" not in plan, plan


def test_minhash_signatures_from_arrays_has_no_exchange(spark):
    """Signatures are a zero-shuffle projection of the pinned arrays."""
    from ergo_uexplorer_spark.operators.dedup import (
        hashed_shingle_arrays,
        minhash_signatures_from_arrays,
    )
    from ergo_uexplorer_spark.plans.explain import formatted_plan
    from ergo_uexplorer_spark.suite.base import load

    (docs,) = load(spark, SF_DIR, "documents")
    arr = hashed_shingle_arrays(docs).localCheckpoint(eager=False)
    plan = formatted_plan(minhash_signatures_from_arrays(arr))
    assert "Exchange" not in plan, plan
