"""Benchmark entry point: one workload per process.

    python3 perfbench/run.py --workload chain_ingest --seed 1 --seconds 5 --trace 0

Run from the root of a checkout of this repository. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). Lines before it print every
metric by name and unit, with sample counts. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
# Spark local cores: one CPU stays free for the client thread, the JVM
# driver, JIT and GC, since most of a served query's wall time is
# driver-side
CORES = max(1, len(os.sched_getaffinity(0)) - 1)

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
    "peak_rss_mb": "MB",
}
# span name -> per-layer metric (self time per timed operation)
SPAN_METRICS = {
    "pipeline.plan": ("pipeline.plan_s", 1.0),
    "sources.decode": ("sources.decode_s", 1.0),
    "normalize": ("normalize.s", 1.0),
    "chain.resolve": ("chain.resolve_s", 1.0),
    "utxo": ("utxo.s", 1.0),
    "blockstats": ("blockstats.s", 1.0),
    "address_stats": ("address_stats.s", 1.0),
    "pipeline.materialize": ("pipeline.materialize_s", 1.0),
    "storage.write": ("storage.write_s", 1.0),
    "sync.apply": ("sync.apply_self_s", 1.0),
    "sync.applied_headers": ("sync.applied_headers_s", 1.0),
    "sync.commit": ("sync.commit_s", 1.0),
    "sync.compaction": ("sync.compaction_s", 1.0),
    "sync.rollback": ("sync.rollback_s", 1.0),
    "serve.plan": ("serve.plan_ms", 1e3),
}
SPARK_METRICS = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "shuffle_read_bytes": "bytes",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "fixed_overhead_share": "share",
}
PER_LAYER = {
    "fixtures.gen_s": "s",
    **{m: ("ms" if m.endswith("_ms") else "s") for m, _ in SPAN_METRICS.values()},
    "storage.bytes_written": "bytes",
    "sync.read_s": "s",
    "sync.jobs_per_batch": "count",
    "sync.state_bytes": "bytes",
    **{
        f"serve.{fam}_p50_ms": "ms"
        for fam in (
            "unspent_by_id",
            "unspent_by_address",
            "spent_by_address",
            "ids_by_token",
            "blocks_latest",
            "blocks_by_id",
            "info",
            "stats_top",
        )
    },
    "serve.jobs_per_query": "count",
    "serve.rows_returned": "count",
    **{f"spark.{k}": u for k, u in SPARK_METRICS.items()},
    "trace_overhead_share": "share",
}
# the workload-specific name each generic end-to-end metric stands for
ALIASES = {
    "chain_ingest": {"throughput_per_s": "ingest_blocks_per_s"},
    "chain_sync": {
        "throughput_per_s": "sync_blocks_per_s",
        "op_p50_ms": "sync_batch_p50_s, in ms",
        "op_tail_ms": "sync_batch_tail_s, in ms",
    },
    "explorer_serve": {
        "throughput_per_s": "serve_qps",
        "op_p50_ms": "serve_p50_ms",
        "op_tail_ms": "serve_tail_ms",
    },
}


def _tree_peak_rss_mb() -> float:
    """Σ VmHWM over this process and every live descendant (the JVM and
    its Python workers): an upper bound on the tree's peak footprint."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    tree, todo = set(), [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.add(pid)
        todo += [c for c, p in parent.items() if p == pid and c not in tree]
    kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024


def _tail(samples: list[float]) -> tuple[float, str]:
    """(value, what it is): the highest of p99/p95/p90/p75 with at least
    ten samples beyond it, or the slowest sample when fewer than 40 were
    taken and no percentile has ten beyond."""
    n = len(samples)
    pct = next((p for p in (99, 95, 90, 75) if n * (100 - p) / 100 >= 10), None)
    if pct is None:
        return max(samples), f"slowest of {n}"
    q = statistics.quantiles(samples, n=100, method="inclusive")[pct - 1]
    beyond = sum(1 for x in samples if x > q)
    return q, f"p{pct}, {beyond} samples beyond it"


def _start_spark(work: str, log_dir: str | None):
    from ergo_uexplorer_spark.session import get_spark

    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": "-Djava.io.tmpdir="
        + os.path.join(work, "tmp"),
        "spark.ui.showConsoleProgress": "false",
    }
    if log_dir:
        from eventlog import eventlog_conf

        conf.update(eventlog_conf(log_dir))
    spark = get_spark("perfbench", cpus=CORES, extra_conf=conf)
    # warm the Python worker pool: one Arrow worker per core
    spark.range(0, 64, numPartitions=CORES).mapInArrow(
        lambda batches: batches, "id long"
    ).count()
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def _layer_metrics(ctx, res, log_dir: str, trace_path: str) -> dict:
    import eventlog

    tracer = ctx.tracer
    spans = tracer.spans
    top = [i for i in res.top_spans if spans[i].end is not None]
    n_ops = max(1, len(top))
    by_span = eventlog.attribute(eventlog.read_jobs(log_dir), spans, tracer.workload)
    # the spans of the timed operations (children follow parents)
    timed = set(top)
    for i, s in enumerate(spans):
        if s.parent in timed:
            timed.add(i)

    # per span name: self time and Spark counters, kept for later readers
    per_name: dict[str, dict[str, float]] = {}
    for i, (s, t) in enumerate(zip(spans, tracer.self_times())):
        if i not in timed:
            continue
        row = per_name.setdefault(s.name, {"spans": 0, "self_s": 0.0})
        row["spans"] += 1
        row["self_s"] += t
        for k, v in eventlog.summarize(by_span.get(i, [])).items():
            row[k] = row.get(k, 0.0) + v

    layers = dict.fromkeys(PER_LAYER, 0.0)
    layers.update(res.layers)
    layers["fixtures.gen_s"] = ctx.fixture_gen_s
    for name, (metric, scale) in SPAN_METRICS.items():
        if name in per_name:
            layers[metric] = scale * per_name[name]["self_s"] / n_ops
    # Spark counters of the timed operations
    jobs = [j for i in timed for j in by_span.get(i, [])]
    for k, v in eventlog.summarize(jobs).items():
        layers[f"spark.{k}"] = v / n_ops
    layers["spark.fixed_overhead_share"] = eventlog.fixed_overhead_share(
        spans, by_span, top
    )
    if tracer.workload == "chain_sync":
        layers["sync.jobs_per_batch"] = layers["spark.jobs"]
    if tracer.workload == "explorer_serve":
        layers["serve.jobs_per_query"] = layers["spark.jobs"]
    plain = res.items / res.busy_s
    traced = res.traced_items / res.traced_busy_s
    layers["trace_overhead_share"] = 1 - traced / plain

    print(f"per-span totals over {len(top)} traced operations:")
    for name, row in sorted(per_name.items()):
        print(
            f"  {name:24s} spans={row['spans']:<5d} self_s={row['self_s']:.3f} "
            f"jobs={row['jobs']:.0f} tasks={row['tasks']:.0f} "
            f"executor_run_s={row['executor_run_s']:.3f}"
        )
    os.makedirs(os.path.dirname(trace_path), exist_ok=True)
    with open(trace_path, "w") as f:
        json.dump(
            {"spans": tracer.as_records(), "per_span": per_name, "metrics": layers}, f
        )
    print(f"trace written to {os.path.relpath(trace_path, ROOT)}")
    return layers


def _run_all(args) -> None:
    """Every workload in its own process, one after the other; the last
    line merges their results, metric names prefixed by workload."""
    import subprocess

    import workloads

    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for wl in workloads.WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl]
        cmd += ["--seed", str(args.seed), "--seconds", str(args.seconds)]
        cmd += ["--trace", str(args.trace)]
        out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True)
        lines = out.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        res = json.loads(lines[-1])
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        for name, m in res["metrics"].items():
            merged["metrics"][f"{wl}.{name}"] = m
    print(json.dumps(merged))


def main() -> None:
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument(
        "--workload", required=True, choices=sorted(workloads.WORKLOADS) + ["all"]
    )
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        _run_all(args)
        return

    from spans import Tracer

    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    log_dir = os.path.join(work, "eventlog") if args.trace else None
    os.makedirs(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _start_spark(work, log_dir)
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark, args.workload)
        ctx = workloads.Ctx(
            spark,
            tracer,
            work,
            os.path.join(WORK_ROOT, "fixtures"),
            args.seed,
            args.seconds,
            bool(args.trace),
        )
        res = workloads.WORKLOADS[args.workload](ctx)
        peak_rss = _tree_peak_rss_mb()
        _stop_spark(spark)
        spark = None

        tail, tail_what = _tail(res.samples)
        e2e = {
            "setup_s": session_s + res.setup_s,
            "throughput_per_s": res.items / res.busy_s,
            "op_p50_ms": 1e3 * statistics.median(res.samples),
            "op_tail_ms": 1e3 * tail,
            "peak_rss_mb": peak_rss,
        }
        print(
            f"workload={args.workload} seed={args.seed} cores={CORES} "
            f"timed operations={len(res.samples)} (tail = {tail_what})"
        )
        print("operation times (ms, in order):", [round(1e3 * x) for x in res.samples])
        print(f"setup: session {session_s:.3f} s + workload {res.setup_s:.3f} s")
        alias = ALIASES.get(args.workload, {})
        for name, value in e2e.items():
            also = f"  ({alias[name]})" if name in alias else ""
            print(f"  {name} = {value:.4f} {END_TO_END[name]}{also}")
        share = res.failed / max(1, res.attempted)
        print(f"  failed_share = {share:.4f} ({res.failed} of {res.attempted})")
        for line in res.failures[:20] + res.notes:
            print(f"  note: {line}")
        if args.trace:
            layers = _layer_metrics(
                ctx,
                res,
                log_dir,
                os.path.join(
                    WORK_ROOT, "traces", f"{args.workload}-seed{args.seed}.json"
                ),
            )
            for name, value in layers.items():
                print(f"  {name} = {value:.6g} {PER_LAYER[name]}")
            metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layers.items()}
        else:
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        print(
            json.dumps(
                {
                    "correct": res.failed == 0,
                    "attempted": res.attempted,
                    "failed": res.failed,
                    "metrics": metrics,
                }
            )
        )
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    if not os.path.isfile(os.path.join(ROOT, "ergo_uexplorer_spark", "__init__.py")):
        print(
            "perfbench: run from the root of a checkout: ergo_uexplorer_spark/ "
            f"not found in {ROOT}",
            file=sys.stderr,
        )
        sys.exit(2)
    # the package and this directory must import in this process and in the
    # Python workers Spark forks, which inherit PYTHONPATH
    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    )
    main()
