"""Offline reader for Spark's JSON event log (no extra package).

Turns the log of a traced session into per-job records, each carrying the
summed task metrics of its stages, the job group, the call site and the
submission/completion times. ``attribute`` then maps every job to the
harness span that launched it: by job group when the span set one, else
by the innermost span whose interval holds the job's submission time
(jobs of streaming queries run under their own group on another thread).
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


@dataclass
class Job:
    job_id: int
    group: str | None
    call_site: str
    submitted_ms: int
    completed_ms: int = 0
    stages: list[int] = field(default_factory=list)
    task_s: list[float] = field(default_factory=list)
    totals: dict[str, float] = field(default_factory=dict)


_TASK_KEYS = ("executor_run_s", "executor_cpu_s", "gc_s", "scan_bytes",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
              "python_bytes_sent", "python_bytes_received", "tasks")


def _task_metrics(ev: dict) -> dict[str, float]:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    out = {
        "executor_run_s": m.get("Executor Run Time", 0) / 1e3,
        "executor_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "scan_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
        "shuffle_read_bytes": (sr.get("Remote Bytes Read", 0)
                               + sr.get("Local Bytes Read", 0)),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Disk Bytes Spilled", 0),
        "python_bytes_sent": 0, "python_bytes_received": 0, "tasks": 1,
    }
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        name, upd = acc.get("Name"), acc.get("Update")
        if name == _PY_SENT:
            out["python_bytes_sent"] += int(upd or 0)
        elif name == _PY_RECV:
            out["python_bytes_received"] += int(upd or 0)
    return out


def read_jobs(log_dir: str) -> list[Job]:
    """Every job in the (single, finished) event log under ``log_dir``."""
    # Spark 4 writes a directory per application (eventlog_v2_<app>/)
    # holding events_<n>_<app> files plus an appstatus marker
    files = sorted(
        (p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
         if os.path.isfile(p) and not p.endswith(".inprogress")
         and not os.path.basename(p).startswith("appstatus")),
        key=lambda p: (os.path.dirname(p),
                       int(os.path.basename(p).split("_")[1])
                       if os.path.basename(p).startswith("events_") else 0))
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    j = Job(ev["Job ID"], props.get("spark.jobGroup.id"),
                            props.get("callSite.short", ""),
                            ev.get("Submission Time", 0),
                            stages=list(ev.get("Stage IDs", [])))
                    jobs[j.job_id] = j
                    for s in j.stages:
                        stage_job[s] = j.job_id
                elif kind == "SparkListenerJobEnd":
                    j = jobs.get(ev["Job ID"])
                    if j is not None:
                        j.completed_ms = ev.get("Completion Time", 0)
                elif kind == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
                    if j is None:
                        continue
                    info = ev.get("Task Info") or {}
                    j.task_s.append((info.get("Finish Time", 0)
                                     - info.get("Launch Time", 0)) / 1e3)
                    for k, v in _task_metrics(ev).items():
                        j.totals[k] = j.totals.get(k, 0) + v
    return sorted(jobs.values(), key=lambda j: j.job_id)


def attribute(jobs: list[Job], spans: list[dict]) -> dict[str, list[Job]]:
    """span id -> the jobs it launched (see module docstring)."""
    by_id = {s["id"]: s for s in spans}
    out: dict[str, list[Job]] = {s["id"]: [] for s in spans}
    for j in jobs:
        sid = j.group if j.group in by_id else None
        if sid is None:
            holders = [s for s in spans
                       if s["start_ms"] <= j.submitted_ms <= s["end_ms"]]
            if holders:
                sid = max(holders, key=lambda s: s["start_ms"])["id"]
        if sid is not None:
            out[sid].append(j)
    return out


def totals(jobs: list[Job]) -> dict[str, float]:
    out = {k: 0.0 for k in _TASK_KEYS}
    for j in jobs:
        for k, v in j.totals.items():
            out[k] += v
    return out
