"""Plan-inspection helpers: assert the physical plan actually has the
shape we designed for (filters reached the scan, dims broadcast, codegen
on). Used by tests so a regression in plan quality fails CI, not just a
benchmark."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters lines of every scan in the plan."""
    return "\n".join(
        line.strip()
        for line in formatted_plan(df).splitlines()
        if "PushedFilters" in line
    )


def read_schemas(df: DataFrame) -> str:
    return "\n".join(
        line.strip()
        for line in formatted_plan(df).splitlines()
        if "ReadSchema" in line
    )


def assert_filter_pushed(df: DataFrame, column: str) -> None:
    pf = pushed_filters(df)
    assert column in pf, f"filter on {column} not pushed to scan:\n{pf}"


def assert_column_pruned(df: DataFrame, column: str) -> None:
    rs = read_schemas(df)
    assert column not in rs, f"column {column} read but not needed:\n{rs}"


def assert_broadcast_join(df: DataFrame) -> None:
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, (
        f"no broadcast join in plan:\n{plan[:2000]}"
    )


def assert_no_cartesian(df: DataFrame) -> None:
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, "cartesian product in plan"


def count_exchanges(df: DataFrame) -> int:
    """Shuffle count — every `Exchange` is a full network pass over the
    data; the first thing to stare at when a plan is slow at scale."""
    plan = formatted_plan(df)
    return sum(
        1
        for line in plan.splitlines()
        if line.strip().startswith("Exchange")
        or "* Exchange" in line
        or ("Exchange " in line and "reuse" not in line.lower())
    )


def whole_stage_codegen_spans(df: DataFrame) -> int:
    """Number of fused codegen subtrees. AQE wraps the plan and reports 0
    before execution, so AQE is toggled off around the inspection (the
    codegen-ability of the plan is what's being asserted)."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="codegen")
        text = buf.getvalue()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    for line in text.splitlines():
        if "WholeStageCodegen subtrees" in line:
            return int(line.split("Found ")[1].split(" ")[0])
    return text.count("WholeStageCodegen")


def python_list_scans(df: DataFrame) -> list[str]:
    """Leaves of the optimized plan that scan a Python RDD: the
    ``LogicalRDD`` that ``createDataFrame(<python list>)`` plans, which
    runs one Python worker task per partition each time it is scanned.
    A ``LogicalRDD`` over a JVM-only lineage (a ``localCheckpoint``, a
    JVM RDD) does not count. No job runs."""
    found = []
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    it = leaves.iterator()
    while it.hasNext():
        leaf = it.next()
        if leaf.nodeName() == "LogicalRDD":
            lineage = leaf.rdd().toDebugString()
            if "PythonRDD" in lineage:
                found.append(lineage.splitlines()[0].strip())
    return found
