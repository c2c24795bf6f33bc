"""Spark event-log parser: per-job execution counters for the traced run.

Spark 4 writes either one file per application or, with rolling enabled,
a directory ``eventlog_v2_<app>/`` holding ``events_<n>_<app>`` parts.
Both are JSON lines. The parser keeps what the per-layer metrics need:
job, stage and task counts, scheduling delay, task run/CPU/GC time,
shuffle, spill, input and output bytes, task failures, and the SQL
metrics of Python (Arrow) operators.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

# Python operators whose SQL metrics are the pyworker.* counters.
_PY_NODE = re.compile(r"Python|MapInArrow|MapInPandas|ArrowEval|FlatMap", re.I)


@dataclass
class JobStats:
    job_id: int
    group: str | None
    submit_ms: int
    stages: set = field(default_factory=set)
    tasks: int = 0
    task_failures: int = 0
    sched_wait_ms: int = 0
    task_run_ms: int = 0
    task_cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    py_bytes_sent: int = 0
    py_rows_returned: int = 0


def log_files(log_dir: str) -> list[list[str]]:
    """Event-log files grouped per application, oldest application first;
    rolling parts in index order."""
    apps = []
    for name in os.listdir(log_dir):
        path = os.path.join(log_dir, name)
        if name.startswith("eventlog_v2_") and os.path.isdir(path):
            parts = [
                os.path.join(path, f)
                for f in os.listdir(path)
                if f.startswith("events_")
            ]
            parts.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
            apps.append(parts)
        elif os.path.isfile(path) and not name.endswith(".inprogress"):
            apps.append([path])
    apps.sort(key=lambda ps: os.path.getmtime(ps[-1]))
    return apps


def _events(paths: list[str]):
    for p in paths:
        with open(p) as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _py_metric_ids(plan: dict, ids: dict[int, str]) -> None:
    """Collect accumulator ids of the Python operators' SQL metrics."""
    if _PY_NODE.search(plan.get("nodeName", "")):
        for m in plan.get("metrics", []):
            name = m.get("name", "")
            if name == "data sent to Python workers":
                ids[m["accumulatorId"]] = "sent"
            elif name == "number of output rows":
                ids[m["accumulatorId"]] = "rows"
    for c in plan.get("children", []):
        _py_metric_ids(c, ids)


def parse(paths: list[str]) -> list[JobStats]:
    """Per-job counters of one application's event log."""
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    stage_submit: dict[tuple[int, int], int] = {}
    stage_first_task: dict[tuple[int, int], int] = {}
    py_ids: dict[int, str] = {}
    task_ends = []
    for ev in _events(paths):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            j = JobStats(
                ev["Job ID"], props.get("spark.jobGroup.id"), ev["Submission Time"]
            )
            jobs[j.job_id] = j
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = j.job_id
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            if "Submission Time" in info:
                stage_submit[key] = info["Submission Time"]
        elif kind == "SparkListenerTaskStart":
            key = (ev["Stage ID"], ev["Stage Attempt ID"])
            t = ev["Task Info"]["Launch Time"]
            stage_first_task[key] = min(stage_first_task.get(key, t), t)
        elif kind == "SparkListenerTaskEnd":
            task_ends.append(ev)
        elif kind in (
            "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
            "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
        ):
            _py_metric_ids(ev.get("sparkPlanInfo", {}), py_ids)

    for (sid, att), sub in stage_submit.items():
        j = jobs.get(stage_job.get(sid, -1))
        if j is None:
            continue
        j.stages.add((sid, att))
        if (sid, att) in stage_first_task:
            j.sched_wait_ms += max(0, stage_first_task[(sid, att)] - sub)

    for ev in task_ends:
        j = jobs.get(stage_job.get(ev["Stage ID"], -1))
        if j is None:
            continue
        info = ev["Task Info"]
        j.tasks += 1
        if info.get("Failed") or ev.get("Task End Reason", {}).get("Reason") not in (
            None,
            "Success",
        ):
            j.task_failures += 1
        m = ev.get("Task Metrics") or {}
        j.task_run_ms += m.get("Executor Run Time", 0)
        j.task_cpu_ns += m.get("Executor CPU Time", 0)
        j.gc_ms += m.get("JVM GC Time", 0)
        sw = m.get("Shuffle Write Metrics") or {}
        j.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        j.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
            "Local Bytes Read", 0
        )
        j.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
            "Disk Bytes Spilled", 0
        )
        j.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        j.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        for acc in info.get("Accumulables", []):
            kind = py_ids.get(acc.get("ID"))
            if kind is None:
                continue
            upd = int(acc.get("Update", 0) or 0)
            if kind == "sent":
                j.py_bytes_sent += upd
            else:
                j.py_rows_returned += upd
    return sorted(jobs.values(), key=lambda j: j.job_id)


def attribute(
    jobs: list[JobStats], windows: dict[str, tuple[float, float]]
) -> dict[str, list[JobStats]]:
    """Assign jobs to ops: by job group when the job carries one of the
    ``windows`` keys, else by submission time inside an op's [start, end]
    wall-clock window (seconds; jobs submitted from helper threads carry
    no group)."""
    out: dict[str, list[JobStats]] = {k: [] for k in windows}
    for j in jobs:
        if j.group in out:
            out[j.group].append(j)
            continue
        t = j.submit_ms / 1000.0
        for k, (a, b) in windows.items():
            if a <= t <= b:
                out[k].append(j)
                break
    return out


def totals(jobs: list[JobStats]) -> dict[str, float]:
    """The exec.* and pyworker.* counters summed over ``jobs``."""
    return {
        "exec.jobs": len(jobs),
        "exec.stages": sum(len(j.stages) for j in jobs),
        "exec.tasks": sum(j.tasks for j in jobs),
        "exec.task_failures": sum(j.task_failures for j in jobs),
        "exec.sched_wait_s": sum(j.sched_wait_ms for j in jobs) / 1e3,
        "exec.task_run_s": sum(j.task_run_ms for j in jobs) / 1e3,
        "exec.task_cpu_s": sum(j.task_cpu_ns for j in jobs) / 1e9,
        "exec.gc_s": sum(j.gc_ms for j in jobs) / 1e3,
        "exec.shuffle_write_bytes": sum(j.shuffle_write_bytes for j in jobs),
        "exec.shuffle_read_bytes": sum(j.shuffle_read_bytes for j in jobs),
        "exec.spill_bytes": sum(j.spill_bytes for j in jobs),
        "exec.input_bytes": sum(j.input_bytes for j in jobs),
        "sink.bytes": sum(j.output_bytes for j in jobs),
        "pyworker.bytes_sent": sum(j.py_bytes_sent for j in jobs),
        "pyworker.rows_returned": sum(j.py_rows_returned for j in jobs),
    }
