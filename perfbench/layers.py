"""Per-layer metrics of a traced run, from the harness spans and the parsed
Spark event log. Values are medians over the warm passes (the first,
cold pass is left out) unless the name says otherwise."""

from __future__ import annotations

import inspect
import re
import statistics

import eventlog

_CALL_SITE = re.compile(r" at (?P<file>.+):(?P<line>\d+)$")
# pipeline.curate's report keys -> stage names
_STAGES = {"input": "input", "after_latest_crawl": "latest",
           "after_gates": "gates", "after_exact_dedup": "exact",
           "after_near_dedup": "near", "final": "sample"}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _timed(spans):
    return [s for s in spans if s["pass"] > 1]


def _by_pass(spans, jobs):
    """pass number -> jobs launched inside that pass."""
    owner = eventlog.attribute(jobs, spans)
    out: dict[int, list] = {}
    for s in _timed(spans):
        out.setdefault(s["pass"], []).extend(owner[s["id"]])
    return out, owner


def from_trace(spans, jobs) -> dict[str, float]:
    """The Spark-side layer: task counts, task time quantiles and the
    summed task metrics per pass."""
    per_pass, _ = _by_pass(spans, jobs)
    totals = [eventlog.totals(js) for js in per_pass.values()]
    tasks = sorted(t for js in per_pass.values() for j in js for t in j.task_s)
    q = (statistics.quantiles(tasks, n=10) if len(tasks) >= 2
         else [tasks[0] if tasks else 0.0] * 9)
    m = {f"spark.{k}": _median([t[k] for t in totals])
         for k in ("tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                   "scan_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
                   "spill_bytes")}
    m["sparkjob.python_bytes_sent"] = _median(
        [t["python_bytes_sent"] for t in totals])
    m["sparkjob.python_bytes_received"] = _median(
        [t["python_bytes_received"] for t in totals])
    m["spark.task_p50_s"] = statistics.median(tasks) if tasks else 0.0
    m["spark.task_p90_s"] = q[8]
    return m


def _span_median(spans, name):
    return _median([s["dur_s"] for s in _timed(spans) if s["name"] == name])


def _report_lines(fn) -> dict[int, str]:
    """Source line -> stage, for each ``report[...] =`` line of ``fn``."""
    lines, start = inspect.getsourcelines(fn)
    out = {}
    for off, text in enumerate(lines):
        m = re.search(r'report\["(\w+)"\]\s*=', text)
        if m and m.group(1) in _STAGES:
            out[start + off] = _STAGES[m.group(1)]
    return out


def _site(job):
    m = _CALL_SITE.search(job.call_site or "")
    if m is None:
        return "", 0
    return m.group("file").rsplit("/", 1)[-1], int(m.group("line"))


def curate_layers(spans, jobs) -> dict[str, float]:
    """pipeline.curate's stages, keyed by the call site of the count that
    closes each stage; a stage's time runs from the end of the previous
    stage's last job (or the curate span's start) to the end of its own."""
    from webextract import dedup, pipeline

    bounds = _report_lines(pipeline.curate)
    cc_lines, cc_start = inspect.getsourcelines(dedup.connected_components)
    cc_range = range(cc_start, cc_start + len(cc_lines))
    _, owner = _by_pass(spans, jobs)
    stage_s: dict[str, list[float]] = {v: [] for v in _STAGES.values()}
    cc_s, cc_jobs = [], []
    for s in _timed(spans):
        if s["name"] != "pipeline.curate":
            continue
        js = sorted(owner[s["id"]], key=lambda j: j.job_id)
        prev_end, seen = s["start_ms"], {}
        stage_of = [None] * len(js)
        nxt = None
        for i in range(len(js) - 1, -1, -1):
            f, line = _site(js[i])
            if f == "pipeline.py" and line in bounds:
                nxt = bounds[line]
            stage_of[i] = nxt
        for j, st in zip(js, stage_of):
            if st is not None:
                seen[st] = max(seen.get(st, 0), j.completed_ms)
        for st in _STAGES.values():
            if st in seen:
                stage_s[st].append((seen[st] - prev_end) / 1e3)
                prev_end = seen[st]
        cc = [j for j in js if _site(j)[0] == "dedup.py"
              and _site(j)[1] in cc_range]
        cc_jobs.append(len(cc))
        cc_s.append(sum(j.completed_ms - j.submitted_ms for j in cc) / 1e3)
    m = {f"pipeline.stage_s.{k}": _median(v) for k, v in stage_s.items()}
    m.update({"pipeline.curate_s": _span_median(spans, "pipeline.curate"),
              "dedup.cc_s": _median(cc_s), "dedup.cc_jobs": _median(cc_jobs),
              "dedup.best_copy_s": m["pipeline.stage_s.exact"],
              "sampling.sample_s": m["pipeline.stage_s.sample"]})
    return m


def workload_layers(name, spans, jobs) -> dict[str, float]:
    return curate_layers(spans, jobs) if name == "curate" else {}
