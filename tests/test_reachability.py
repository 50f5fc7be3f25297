"""Every top-level definition in the package is reached from a product
surface, or is named below with the reason it stays.

The walk is by name and pure `ast` (no Spark, no imports of the package).
It starts from the product surfaces:

  * every `suite/` module (the registry entries) and the chain system's
    own modules (`api`, `pipeline`, `storage`, the incremental sync and
    the token rollup);
  * the module-level code of every package module;
  * `tools/`, `perfbench/`, `examples/`, `bench.py` and
    `__spark_entry__.py`.

A definition is reached when a reached body names it (a bare name, an
attribute or an imported alias). Names are not resolved to modules, so
a name defined twice is reached through either definition: the walk
can miss dead code, but only a lookup by string could hide live code
from it, and the package does none.

The unreached set must EQUAL the keep-list. New code that only tests
call fails here, and so does a keep-list entry that the walk now
reaches or that no longer exists.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "ergo_uexplorer_spark"

ROOT_MODULES = {
    "api.py",
    "pipeline.py",
    "storage.py",
    "streaming/incremental.py",
    "streaming/token_rollup.py",
}
ROOT_DIRS = ("tools", "perfbench", "examples")
ROOT_FILES = ("bench.py", "__spark_entry__.py")

_REFERENCE = "reference implementation a property test compares against"
_CHAIN = "chain-domain twin of a reference-explorer module, pinned by tests"
_SIGMA = "ChainGen sigma encoder; tests build register fixtures with it"
_EXPLAIN = "plan-assertion helper the plan tests use"

KEEP = {
    "fixtures/chaingen.py:sigma_coll_bool": _SIGMA,
    "fixtures/chaingen.py:sigma_coll_int": _SIGMA,
    "fixtures/chaingen.py:sigma_group_element": _SIGMA,
    "fixtures/chaingen.py:sigma_pair_collbyte_int": _SIGMA,
    "fixtures/chaingen.py:sigma_pair_int_collbyte": _SIGMA,
    "fixtures/chaingen.py:sigma_tuple_n": _SIGMA,
    "operators/alerts.py:high_value_txs": _CHAIN,
    "operators/chain.py:ChainIntegrityError": _CHAIN,
    "operators/chain.py:assert_chained": _CHAIN,
    "operators/chain.py:chain_tip": _CHAIN,
    "operators/chain.py:detect_forks": _CHAIN,
    "operators/chain.py:initialize": _CHAIN,
    "operators/chain.py:missing_heights": _CHAIN,
    "operators/dedup.py:_simhash_agg": _REFERENCE + " (simhash_pairs)",
    "operators/dedup.py:containment_pairs": _REFERENCE + " (prefix filter)",
    "operators/dedup.py:jaccard_pairs": _REFERENCE + " (prefix filter)",
    "operators/dedup.py:minhash_signatures": _REFERENCE + " (Arrow MinHash)",
    "operators/dedup.py:shingle_sets": _REFERENCE + " (Arrow shingling)",
    "operators/dedup.py:simhash_pairs_allpairs": _REFERENCE + " (pigeonhole)",
    "operators/graph.py:co_spend_pairs": _CHAIN,
    "operators/graph.py:graph_edges": _CHAIN,
    "operators/graph.py:graph_vertices": _CHAIN,
    "operators/graph.py:two_hop_neighbors": _REFERENCE + " (k_hop_traversal)",
    "operators/similarity.py:_bucket": _REFERENCE + " (vectorized LSH bucket)",
    "operators/similarity.py:ivf_build_centroids": (
        "trained quantizer the ivf_topk/ivf_pq_topk recall bars are set on"
    ),
    "operators/similarity.py:near_dup_pairs_allpairs": _REFERENCE
    + " (banded near_dup_pairs)",
    "operators/stats.py:hot_keys": _CHAIN,
    "operators/utxo.py:spent_boxes": _CHAIN,
    "operators/utxo.py:verify_spend_integrity": _CHAIN,
    "plans/explain.py:assert_broadcast_join": _EXPLAIN,
    "plans/explain.py:assert_column_pruned": _EXPLAIN,
    "plans/explain.py:assert_filter_pushed": _EXPLAIN,
    "plans/explain.py:assert_no_cartesian": _EXPLAIN,
    "plans/explain.py:count_exchanges": _EXPLAIN,
    "plans/explain.py:pushed_filters": _EXPLAIN,
    "plans/explain.py:read_schemas": _EXPLAIN,
    "plans/explain.py:whole_stage_codegen_spans": _EXPLAIN,
    "sources/blocks.py:block_id_pages": _CHAIN + " (paginated node client)",
    "sources/blocks.py:fetch_blocks": _CHAIN + " (paginated node client)",
    "sources/blocks.py:paginated_block_batches": _CHAIN
    + " (paginated node client)",
    "streaming/mempool.py:mempool_diff": _CHAIN,
    "streaming/mempool.py:stream_new_txs": _CHAIN,
    "streaming/mempool.py:unconfirmed_overlay": _CHAIN,
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def unreached_definitions() -> set[str]:
    """`module:name` of every top-level def/class no product surface
    reaches by name."""
    defs: dict[str, ast.AST] = {}
    by_name: dict[str, list[str]] = {}
    reached: set[str] = set()
    todo: list[ast.AST] = []
    for f in sorted(PKG.rglob("*.py")):
        rel = f.relative_to(PKG).as_posix()
        root = rel.startswith("suite/") or rel in ROOT_MODULES
        for st in ast.parse(f.read_text()).body:
            if not isinstance(st, _DEFS):
                todo.append(st)
                continue
            key = f"{rel}:{st.name}"
            defs[key] = st
            by_name.setdefault(st.name, []).append(key)
            if root:
                reached.add(key)
                todo.append(st)
    for d in ROOT_DIRS:
        todo += [ast.parse(f.read_text()) for f in (REPO / d).rglob("*.py")]
    todo += [ast.parse((REPO / f).read_text()) for f in ROOT_FILES]
    while todo:
        for name in _names(todo.pop()):
            for key in by_name.get(name, ()):
                if key not in reached:
                    reached.add(key)
                    todo.append(defs[key])
    return set(defs) - reached


def test_unreached_definitions_equal_the_keep_list():
    unreached = unreached_definitions()
    assert not unreached - set(KEEP), (
        "only tests reach these definitions; delete them, or add them to "
        f"KEEP with the reason they stay: {sorted(unreached - set(KEEP))}"
    )
    assert not set(KEEP) - unreached, (
        "stale KEEP entries (now reached, or no longer defined): "
        f"{sorted(set(KEEP) - unreached)}"
    )


def private_cross_imports() -> list[str]:
    """`module: from .other import _name` for every import of an
    underscore name from another `operators/` module."""
    ops = PKG / "operators"
    found = []
    for f in sorted(ops.glob("*.py")):
        for node in ast.walk(ast.parse(f.read_text())):
            if not isinstance(node, ast.ImportFrom) or not node.module:
                continue
            mod = node.module
            if node.level == 1:
                other = mod.split(".")[0]
            elif node.level == 2 and mod.startswith("operators."):
                other = mod.split(".")[1]
            elif mod.startswith("ergo_uexplorer_spark.operators."):
                other = mod.split(".")[2]
            else:
                continue
            for a in node.names:
                if a.name.startswith("_") and other != f.stem:
                    found.append(f"{f.name}: from {other} import {a.name}")
    return found


def test_no_operator_imports_a_private_name_of_another():
    """A private helper another operator module needs is shared code:
    it belongs in a module both import by its public name (sizing,
    util), not reached into across modules."""
    assert private_cross_imports() == []


def test_only_sizing_names_a_graft_conf():
    """The one remaining package conf is the one-task budget in
    `operators/sizing.py`. A knob is a constant unless it has a value
    in use outside tests, so a new `spark.graft.` conf elsewhere fails
    here."""
    named = sorted(
        str(f.relative_to(PKG))
        for f in PKG.rglob("*.py")
        if "spark.graft." in f.read_text()
    )
    assert named == ["operators/sizing.py"]
