"""Spark counters per span, read from Spark's own event log.

The traced run turns on an uncompressed, non-rolling event log
(`eventlog_conf`). After the session stops, `read_jobs` parses
``SparkListenerJobStart``/``JobEnd`` (submission, completion and the
``spark.job.description`` property), ``StageCompleted`` and ``TaskEnd``
(executor run and CPU time, GC, shuffle bytes, spill) into one record per
job. `attribute` hands every job to a span: the innermost span named by
its ``bench:<workload>:<layer>`` description that was open when the job
was submitted, or, for jobs the package labels itself (the ingest sinks
do), the innermost span of any name open at that moment. Jobs submitted
outside every span (warm-up, output checks) are not counted.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass, field

from spans import Span, union_length

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


def eventlog_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class Job:
    job_id: int
    description: str
    submit: float
    end: float | None = None
    stage_ids: list[int] = field(default_factory=list)
    counters: dict[str, float] = field(
        default_factory=lambda: dict.fromkeys(COUNTERS, 0.0)
    )


def _task_counters(metrics: dict) -> dict[str, float]:
    shuffle_read = metrics.get("Shuffle Read Metrics", {})
    shuffle_write = metrics.get("Shuffle Write Metrics", {})
    return {
        "executor_run_s": metrics.get("Executor Run Time", 0) / 1e3,
        "executor_cpu_s": metrics.get("Executor CPU Time", 0) / 1e9,
        "gc_s": metrics.get("JVM GC Time", 0) / 1e3,
        "shuffle_read_bytes": shuffle_read.get("Remote Bytes Read", 0)
        + shuffle_read.get("Local Bytes Read", 0),
        "shuffle_write_bytes": shuffle_write.get("Shuffle Bytes Written", 0),
        "spill_bytes": metrics.get("Disk Bytes Spilled", 0),
    }


def read_jobs(log_dir: str) -> list[Job]:
    """Parse every event-log file under `log_dir`, then delete the dir."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    try:
        for name in sorted(os.listdir(log_dir)):
            with open(os.path.join(log_dir, name)) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        job = Job(
                            ev["Job ID"],
                            props.get("spark.job.description") or "",
                            ev["Submission Time"] / 1e3,
                            stage_ids=list(ev.get("Stage IDs", [])),
                        )
                        jobs[job.job_id] = job
                        for sid in job.stage_ids:
                            stage_job[sid] = job.job_id
                    elif kind == "SparkListenerJobEnd":
                        if ev["Job ID"] in jobs:
                            jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
                    elif kind == "SparkListenerStageCompleted":
                        info = ev.get("Stage Info", {})
                        job = jobs.get(stage_job.get(info.get("Stage ID")))
                        if job is not None:
                            job.counters["stages"] += 1
                    elif kind == "SparkListenerTaskEnd":
                        job = jobs.get(stage_job.get(ev.get("Stage ID")))
                        if job is None:
                            continue
                        job.counters["tasks"] += 1
                        for k, v in _task_counters(
                            ev.get("Task Metrics") or {}
                        ).items():
                            job.counters[k] += v
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)
    for job in jobs.values():
        job.counters["jobs"] = 1
        if job.end is None:
            job.end = job.submit
    return sorted(jobs.values(), key=lambda j: j.submit)


def attribute(
    jobs: list[Job], spans: list[Span], workload: str
) -> dict[int, list[Job]]:
    """{span index: jobs submitted inside it} (see module docstring)."""
    prefix = f"bench:{workload}:"

    def depth(i: int) -> int:
        d = 0
        while spans[i].parent is not None:
            i, d = spans[i].parent, d + 1
        return d

    depths = [depth(i) for i in range(len(spans))]
    out: dict[int, list[Job]] = {}
    for job in jobs:
        label = (
            job.description[len(prefix):]
            if job.description.startswith(prefix)
            else None
        )
        # event-log times have millisecond resolution
        hits = [
            i
            for i, s in enumerate(spans)
            if s.start - 1e-3 <= job.submit <= s.end + 1e-3
            and (label is None or s.name == label)
        ]
        if hits:
            out.setdefault(max(hits, key=lambda i: depths[i]), []).append(job)
    return out


def summarize(jobs: list[Job]) -> dict[str, float]:
    total = dict.fromkeys(COUNTERS, 0.0)
    for job in jobs:
        for k, v in job.counters.items():
            total[k] += v
    return total


def fixed_overhead_share(
    spans: list[Span], by_span: dict[int, list[Job]], top: list[int]
) -> float:
    """Share of the `top` spans' wall time during which no Spark job was
    running: driver-side planning, Python work and scheduling gaps."""
    children: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        if s.parent is not None:
            children.setdefault(s.parent, []).append(i)
    wall = busy = 0.0
    for t in top:
        todo, intervals = [t], []
        while todo:
            i = todo.pop()
            todo.extend(children.get(i, []))
            intervals += [
                (max(j.submit, spans[t].start), min(j.end, spans[t].end))
                for j in by_span.get(i, [])
            ]
        wall += spans[t].end - spans[t].start
        busy += union_length([iv for iv in intervals if iv[1] > iv[0]])
    return (wall - busy) / wall if wall > 0 else 0.0
