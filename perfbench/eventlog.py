"""Spark event-log reader and job-to-op attribution.

Spark 4.1 writes the log as a rolling directory ``eventlog_v2_<app>/``
holding ``events_<n>_<app>`` files (a single ``<app>`` file when rolling
is off); with ``spark.eventLog.compress=false`` every line is one JSON
event. Jobs are attributed to the op whose wall-clock window contains the
job's submission time. Job tags are not used: jobs submitted from the
program's own thread pools do not inherit the client thread's tags.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

_COUNTERS = (
    "tasks", "executor_cpu_s", "executor_run_s", "gc_s", "shuffle_read_mb",
    "shuffle_write_mb", "spill_mb", "input_mb", "output_mb",
)


@dataclass
class Job:
    job_id: int
    submit_ms: int
    end_ms: int = 0
    stage_ids: list[int] = field(default_factory=list)
    stages_run: int = 0
    counters: dict[str, float] = field(default_factory=lambda: dict.fromkeys(_COUNTERS, 0.0))


def log_files(log_dir: str) -> list[str]:
    """Every event file under ``log_dir``, rolling parts in index order."""
    out: list[str] = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path) and entry.startswith("eventlog_v2_"):
            parts = [p for p in os.listdir(path) if p.startswith("events_")]
            parts.sort(key=lambda p: int(re.match(r"events_(\d+)_", p).group(1)))
            out.extend(os.path.join(path, p) for p in parts)
        elif os.path.isfile(path) and not entry.endswith(".inprogress.crc"):
            out.append(path)
    return out


def _task_counters(metrics: dict) -> dict[str, float]:
    shuffle_read = metrics.get("Shuffle Read Metrics") or {}
    shuffle_write = metrics.get("Shuffle Write Metrics") or {}
    mb = 2.0**20
    return {
        "tasks": 1.0,
        "executor_cpu_s": metrics.get("Executor CPU Time", 0) / 1e9,
        "executor_run_s": metrics.get("Executor Run Time", 0) / 1e3,
        "gc_s": metrics.get("JVM GC Time", 0) / 1e3,
        "shuffle_read_mb": (shuffle_read.get("Remote Bytes Read", 0) + shuffle_read.get("Local Bytes Read", 0)) / mb,
        "shuffle_write_mb": shuffle_write.get("Shuffle Bytes Written", 0) / mb,
        "spill_mb": (metrics.get("Memory Bytes Spilled", 0) + metrics.get("Disk Bytes Spilled", 0)) / mb,
        "input_mb": (metrics.get("Input Metrics") or {}).get("Bytes Read", 0) / mb,
        "output_mb": (metrics.get("Output Metrics") or {}).get("Bytes Written", 0) / mb,
    }


def parse_events(lines) -> list[Job]:
    """Jobs with their task counters summed, from event-log JSON lines."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = Job(ev["Job ID"], ev["Submission Time"], stage_ids=list(ev.get("Stage IDs", [])))
            jobs[job.job_id] = job
            for sid in job.stage_ids:
                stage_job[sid] = job.job_id
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            jid = stage_job.get(ev["Stage Info"]["Stage ID"])
            if jid is not None:
                jobs[jid].stages_run += 1
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev["Stage ID"])
            if jid is None or not ev.get("Task Metrics"):
                continue
            acc = jobs[jid].counters
            for k, v in _task_counters(ev["Task Metrics"]).items():
                acc[k] += v
    for job in jobs.values():
        job.end_ms = job.end_ms or job.submit_ms
    return sorted(jobs.values(), key=lambda j: j.job_id)


def read_jobs(log_dir: str) -> list[Job]:
    def lines():
        for path in log_files(log_dir):
            with open(path) as fh:
                yield from fh

    return parse_events(lines())


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, cur_lo, cur_hi = 0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def attribute(jobs: list[Job], windows: list[tuple[str, int, int]]) -> dict[str, dict[str, float]]:
    """Per-op Spark counters from the jobs submitted inside each op window.

    ``windows`` holds ``(op_id, start_ms, end_ms)`` in epoch milliseconds.
    A job belongs to the op whose window contains its submission time.
    Besides the summed task counters, each op gets ``jobs``, ``stages``
    and ``driver_gap_s``: the op's wall time minus the union of its job
    intervals (clipped to the window), i.e. time no job of the op ran.
    """
    out: dict[str, dict[str, float]] = {}
    ordered = sorted(windows, key=lambda w: w[1])
    per_op: dict[str, list[Job]] = {w[0]: [] for w in ordered}
    for job in jobs:
        for op_id, lo, hi in ordered:
            if lo <= job.submit_ms <= hi:
                per_op[op_id].append(job)
                break
    for op_id, lo, hi in ordered:
        mine = per_op[op_id]
        acc = dict.fromkeys(_COUNTERS, 0.0)
        for job in mine:
            for k, v in job.counters.items():
                acc[k] += v
        acc["jobs"] = float(len(mine))
        acc["stages"] = float(sum(j.stages_run for j in mine))
        busy = _union_ms([(max(lo, j.submit_ms), min(hi, j.end_ms)) for j in mine])
        acc["driver_gap_s"] = max(0, (hi - lo) - busy) / 1e3
        out[op_id] = acc
    return out
