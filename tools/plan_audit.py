"""Plan-shape audit over the ENTIRE suite registry: scan every entry's
optimized physical plan for the canonical scale anti-patterns and print
one JSON line per finding (empty output = clean).

This is the reusable form of the per-batch plan gates in
tests/test_plans.py — one command a reviewer (or CI) can run to check
that no entry regressed into a shape that dies at 100 TB:

  * CartesianProduct — unbounded all-pairs product.
  * BroadcastNestedLoopJoin — non-equi product; allowed ONLY for the
    sanctioned single-row corpus-scalar broadcasts (an allowlist below,
    each justified where it is constructed).
  * python-list-scan — a LogicalRDD leaf whose lineage holds a
    PythonRDD (`createDataFrame(<python list>)`): every job that scans
    it runs one Python worker task per partition, about 0.25 s of
    worker CPU each however few rows it holds (`operators.util.
    local_frame` builds the same frame with no Python task).
  * "No Partition Defined" windows — a Window with no partitionBy over
    a non-tiny input collapses to ONE task. Detected structurally:
    a WindowExec whose partition spec is empty. Allowlisted where the
    window provably runs over a bounded dim (per-partition offsets of
    ordered_prefix, |parts|-row offset tables, contingency marginals).

Usage: python tools/plan_audit.py [sf_dir] [name ...]
Exit code: 0 clean, 1 findings.
"""

from __future__ import annotations

import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# entries allowed exactly one BroadcastNestedLoopJoin: a broadcast
# SINGLE-ROW scalar (corpus totals / thresholds), not a data product
BNLJ_ALLOW = {
    "zyc1_bm25_topk": 1,  # (N, L) corpus scalars — retrieval.py
    "zx7_collocations": 1,  # corpus-total scalar — textops.py
    "zya2_fk_audit": 7,  # one anti-join per FK relation (NULL-key
    # NOT-EXISTS semantics force the non-equi form) — the same bound
    # tests/test_plans.py pins (≤ len(_FK_RELATIONS))
    "zz_s01_ann_bruteforce_cosine": 1,  # broadcast QUERY side — the
    # documented brute-force baseline (probes × corpus is the point)
    "zz_z42_triangle_count": 1,  # one-row broadcast gate scalar
    "zz_c01_clean_corpus": 2,  # corpus totals — corpus.py
    "zz_z09_mixture_weights": 2,  # dataset totals — curation.py
    "zz_z19_corpus_diff": 1,
    "zz_z22_quality_floor": 1,
    "zz_z24_token_budget_select": 3,  # budget + 2 boundary scalars
    "zz_z26_vocab_oov": 1,
    "zz_z32_source_divergence": 2,
    "zz_z48_source_gini": 2,
    "zx4_dsir_importance": 2,
    "zyd2_psi_drift": 1,  # sf-wide totals window rewrite
    "zz_z33_ngram_diversity": 1,
    "zz_z43_hapax_zipf": 2,
    "zya3_profile": 1,  # single-row wide aggregate → stack
    "zw6_hard_negatives": 1,  # broadcast QUERY side — documented
    # brute-force shape, same sanction as zz_s01
    "zw8_ann_recall": 1,  # the brute-force TRUTH side of the recall
    # eval (broadcast query product); the IVF side is equi-joined
    "zw5_retrieval_eval": 3,  # the single-row (N, L) corpus-scalar
    # join, once per query — same scalar as zyc1
    "zwi_local_supplier_volume_quarantine": 1,  # the 1-row quarantine
    # reason frame (n_nan, n_inf) broadcast into the result — the
    # per-reason refusal counts the twins exist to report
    "zwj_small_quantity_revenue_quarantine": 1,  # same 1-row reason
    # frame
    "zwm_regional_volume_quarantine": 1,  # same 1-row reason frame
    # (the r12 z13 snowflake twin)
}

# entries whose unpartitioned windows run over PROVABLY bounded dims
# (≤ #range-partitions, ≤ |parts|, ≤ |buckets| rows — never data)
UNPART_WINDOW_ALLOW_PATTERNS = (
    "zyb",  # coarse_partition_rank offset tables (|parts| rows)
    "zyc4",  # rfm quintile offsets
    "zyc5",
    "zyd2",  # PSI totals over the bucket histogram
    "zy5",  # benford digit histogram (≤ 9 rows)
    "zz_s03",  # IVF probe-candidate rank (≤ probes × cell sizes)
    "zw8",  # ann-recall's IVF side — same bound as zz_s03
    "zw5",  # rank over the ≤k-row top-k output (bounded by the
    # function parameter, never by data) — retrieval_eval
    "zz_z02",  # IVFPQ, same bound
    "zz_z22",  # quality-floor score domain (≤ 1001 rows/group)
    "zz_z24",  # token-budget score table (≤ 1001 rows)
    "zz_z26",  # vocabulary dim
    "zyh1",  # grouping-sets percentile windows partition by grouping
    # id + keys over the DISTINCT n_chars histogram (bounded value
    # domain, never rows) — the grand-total set is one partition of
    # histogram size by construction
    "zz_t03",
    "zz_t05",
    "zz_z15",
    "zya1",
    "zx",
)


def audit_one(name, fn, spark, sf_dir):
    from ergo_uexplorer_spark.plans.explain import (
        formatted_plan,
        python_list_scans,
    )

    findings = []
    try:
        df = fn(spark, sf_dir)
        plan = formatted_plan(df)
        py_scans = python_list_scans(df)
    except Exception as exc:  # noqa: BLE001 - report, don't abort the sweep
        return [{"name": name, "kind": "plan-error", "detail": repr(exc)[:200]}]
    if py_scans:
        findings.append(
            {"name": name, "kind": "python-list-scan", "count": len(py_scans)}
        )
    if "CartesianProduct" in plan:
        findings.append({"name": name, "kind": "cartesian"})
    nl = len(re.findall(r"\(\d+\)\s+BroadcastNestedLoopJoin", plan))
    if nl > BNLJ_ALLOW.get(name, 0):
        findings.append(
            {"name": name, "kind": "nested-loop-join", "count": nl,
             "allowed": BNLJ_ALLOW.get(name, 0)}
        )
    # structural unpartitioned-window check: Window nodes whose spec has
    # no partition columns show as "Window [..], [..ASC..]" with only
    # two bracket groups (functions, order) instead of three
    unpart = len(
        re.findall(r"\(\d+\)\s+Window\b(?![^\n]*partitionBy)", plan)
    ) and len(re.findall(r"Arguments: \[[^\]]*\], \[[^\]]*\]\n", plan))
    if unpart and not any(
        name.startswith(p) for p in UNPART_WINDOW_ALLOW_PATTERNS
    ):
        # soft signal: verify by eye — offset tables legitimately use it
        findings.append({"name": name, "kind": "unpartitioned-window?"})
    return findings


def main() -> int:
    from ergo_uexplorer_spark.session import get_spark
    from ergo_uexplorer_spark.suite import REGISTRY

    args = sys.argv[1:]
    if args and os.path.isdir(args[0]):
        sf_dir, names = args[0], args[1:]
    else:
        sf_dir, names = "/root/testdata/sf0.001", args
    names = names or sorted(REGISTRY)

    spark = get_spark("plan-audit")
    n_findings = 0
    for name in names:
        for f in audit_one(name, REGISTRY[name].fn, spark, sf_dir):
            if not f["kind"].endswith("?"):
                n_findings += 1
            print(json.dumps(f), flush=True)
    print(
        json.dumps(
            {"audited": len(names), "findings": n_findings}
        ),
        flush=True,
    )
    # soft signals ("?"-suffixed kinds) inform but don't fail the audit
    return 1 if n_findings else 0


if __name__ == "__main__":
    sys.exit(main())
