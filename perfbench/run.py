"""webextract benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload extract --seed 7 --seconds 15 --trace 0

Runs from the root of a source checkout (it imports ``src/webextract``
from there) and writes only under ``.perfbench_run/`` in that checkout. One driver process, ``local[<cores>]``, passes back to
back (closed loop, one client). The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics of BENCHMARK.json, with ``--trace 1`` its per-layer
metrics from a separate traced session (see README.md).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

SETUPS = 3  # session set-ups per timing run; setup_s is their median
MARKER_GROUP = "perfbench.marker"


def _warm(batches):
    """Python-worker warm-up: import the package the real tasks import."""
    import webextract.extract  # noqa: F401

    yield from batches


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Tracer:
    """Spans around the harness's public calls. When ``on``, each span also
    becomes the Spark job group, so the event log names the span that
    launched every job; when off, spans cost nothing."""

    def __init__(self, workload: str, on: bool):
        self.workload, self.on = workload, on
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.sc = None
        self.pass_no = 0

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        rec = {"id": f"{self.workload}/{self.pass_no}/{len(self.spans)}/{name}",
               "name": name,
               "parent": self.stack[-1]["id"] if self.stack else None,
               "workload": self.workload, "pass": self.pass_no,
               "start_ms": int(time.time() * 1000)}
        self.spans.append(rec)
        self.stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            rec["dur_s"] = time.perf_counter() - t0
            rec["end_ms"] = int(time.time() * 1000)
            self.stack.pop()
            if self.stack:
                self.sc.setJobGroup(self.stack[-1]["id"], "")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)


class CallSites:
    """While active, ``count()`` and ``localCheckpoint()`` name their caller
    (file:line) in the job's ``callSite.short`` property, which PySpark
    leaves unset for them, so the event log can key jobs by call site."""

    NAMES = ("count", "localCheckpoint")

    def __init__(self, sc):
        from pyspark.sql.classic.dataframe import DataFrame

        self.cls, self.sc = DataFrame, sc
        self.orig = {n: getattr(DataFrame, n) for n in self.NAMES}

    def _tagged(self, name):
        orig, sc = self.orig[name], self.sc

        def tagged(df, *args, **kwargs):
            f = sys._getframe(1)
            sc.setLocalProperty("callSite.short",
                                f"{name} at {f.f_code.co_filename}:{f.f_lineno}")
            try:
                return orig(df, *args, **kwargs)
            finally:
                sc.setLocalProperty("callSite.short", None)
        return tagged

    def __enter__(self):
        for n in self.NAMES:
            setattr(self.cls, n, self._tagged(n))
        return self

    def __exit__(self, *exc):
        for n, f in self.orig.items():
            setattr(self.cls, n, f)
        return False


def job_marker(sc) -> int:
    """Id of a fresh one-task job: the jobs of a pass are exactly those
    between its two markers, whatever thread or job group ran them."""
    sc.setJobGroup(MARKER_GROUP, "")
    sc.parallelize([0], 1).count()
    sc.setLocalProperty("spark.jobGroup.id", None)
    return max(sc.statusTracker().getJobIdsForGroup(MARKER_GROUP))


def stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    SparkContext._gateway = SparkContext._jvm = None
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def host_cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def host_mem_gb() -> int:
    with open("/proc/meminfo") as f:
        kb = int(f.readline().split()[1])
    return kb // 2 ** 20


class Bench:
    def __init__(self, args, run_dir):
        from workloads import WORKLOADS

        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.run_dir = run_dir
        self.cores = host_cores()
        self.state = {"run_dir": run_dir}

    def conf(self, event_log: str | None) -> dict:
        tmp = os.path.join(self.run_dir, "tmp")
        conf = {
            "spark.local.dir": os.path.join(self.run_dir, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true" if event_log else "false",
            **self.wl.conf(self.inp, self.cores),
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update({"spark.eventLog.dir": "file://" + event_log,
                         "spark.eventLog.compress": "false"})
        return conf

    def setup(self, event_log=None):
        """Session start + package ship, Python-worker warm-up (for
        workloads that run Python workers), input first-touch. Returns
        (spark, (total, start, warm-up) seconds)."""
        from webextract.session import get_spark

        pc = time.perf_counter
        t0 = pc()
        spark = get_spark(app=f"perfbench-{self.wl.name}",
                          master=f"local[{self.cores}]",
                          extra=self.conf(event_log))
        t1 = pc()
        if self.wl.python_workers:
            n = spark.sparkContext.defaultParallelism
            (spark.range(0, n, 1, n).mapInPandas(_warm, "id long")
             .write.format("noop").mode("overwrite").save())
        t2 = pc()
        self.wl.touch(spark, self.inp)
        return spark, (pc() - t0, t1 - t0, t2 - t1)

    def passes(self, spark, tracer, seconds, min_passes=1):
        """Passes back to back until ``seconds`` have elapsed and at least
        ``min_passes`` ran. Returns per-pass records."""
        sc = spark.sparkContext
        tracer.sc = sc
        out = []
        mark = job_marker(sc)
        deadline = time.perf_counter() + seconds
        while len(out) < min_passes or time.perf_counter() < deadline:
            tracer.pass_no = len(out) + 1
            self.sampler.mark()
            t0 = time.perf_counter()
            with tracer.span("pass"):
                self.wl.run_pass(spark, self.inp, tracer.span, self.state)
            wall = time.perf_counter() - t0
            cpu, rss = self.sampler.mark()
            end = job_marker(sc)
            out.append({"wall": wall, "cpu": cpu, "rss": rss,
                        "jobs": end - mark - 1})
            mark = end
        return out

    # ------------------------------------------------------------------
    def run(self):
        import inputs
        from procstat import Sampler

        a = self.args
        self.inp = inputs.generate(a.workload, os.path.join(self.run_dir, "in"),
                                   a.seed)
        why = inputs.check(a.workload, a.seed, self.inp, self.run_dir)
        if why is not None:
            raise SystemExit(f"refusing to run: generated inputs changed ({why})")
        self.sampler = Sampler().start()
        try:
            if a.trace:
                return self.traced()
            return self.timed()
        finally:
            self.sampler.stop()

    def timed(self):
        setups = []
        for k in range(SETUPS):
            spark, s = self.setup()
            setups.append(s[0])
            if k < SETUPS - 1:
                spark.stop()
        recs = self.passes(spark, Tracer(self.wl.name, False), self.args.seconds)
        attempted, failed, _ = self.wl.check(spark, self.inp, self.state)
        spark.stop()
        wall = median([r["wall"] for r in recs])
        metrics = {
            "setup_s": median(setups),
            "wall_s": wall,
            "docs_per_s": self.inp["rows"] / wall,
            "cpu_s": median([r["cpu"] for r in recs]),
            "peak_rss_mb": median([r["rss"] for r in recs]),
            "spark_jobs": median([r["jobs"] for r in recs]),
        }
        return attempted, failed, metrics

    def traced(self):
        import eventlog
        import layers

        half = max(1, self.args.seconds / 2)
        log_dir = os.path.join(self.run_dir, "eventlog")
        spark, (setup, start, warm) = self.setup(event_log=log_dir)
        tracer = Tracer(self.wl.name, True)
        # a cold first pass, then warm ones: per-layer metrics and the
        # overhead come from the warm passes (the twin runs in a warm JVM)
        with CallSites(spark.sparkContext):
            recs = self.passes(spark, tracer, half, min_passes=2)[1:]
        spark.stop()
        jobs = eventlog.read_jobs(log_dir)
        # the untraced twin: same passes with tracing and event log off
        spark, _ = self.setup()
        plain = self.passes(spark, Tracer(self.wl.name, False), half)
        attempted, failed, counts = self.wl.check(spark, self.inp, self.state)
        extra, x_attempted, x_failed = self.wl.extras(spark, self.inp,
                                                      self.state)
        attempted, failed = attempted + x_attempted, failed + x_failed
        spark.stop()
        m = layers.from_trace(tracer.spans, jobs)
        m.update(layers.workload_layers(self.wl.name, tracer.spans, jobs))
        m.update(counts)
        m.update(extra)
        traced_wall = median([r["wall"] for r in recs])
        m.update({
            "session.start_s": start, "session.warmup_s": warm,
            "session.setup_s": setup,
            "wall.passes": len(recs), "wall.max_s": max(r["wall"] for r in recs),
            "trace.wall_s": traced_wall,
            "trace.overhead_s": traced_wall - median([r["wall"] for r in plain]),
            "failed_ratio": failed / attempted if attempted else 0.0,
        })
        with open(os.path.join(ROOT, ".perfbench_run",
                               f"trace-{self.wl.name}-{self.args.seed}.json"),
                  "w") as f:
            json.dump({"spans": tracer.spans,
                       "jobs": [j.__dict__ for j in jobs]}, f)
        return attempted, failed, m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "src", "webextract", "__init__.py")):
        print("perfbench: no webextract source tree next to perfbench/",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".perfbench_run",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # everything the program or Spark writes lands under run_dir
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(host_cores())
    os.environ["WEBEXTRACT_DRIVER_MEM"] = f"{max(1, min(8, host_mem_gb() // 4))}g"
    tempfile.tempdir = None
    sys.path.insert(0, os.path.join(ROOT, "src"))
    try:
        attempted, failed, metrics = Bench(args, run_dir).run()
    finally:
        stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)

    kind = "per_layer" if args.trace else "end_to_end"
    out = {m["name"]: {"value": float(metrics.get(m["name"], 0.0)),
                       "unit": m["unit"]} for m in spec[kind]}
    print(json.dumps({"correct": failed == 0 and attempted > 0,
                      "attempted": int(attempted), "failed": int(failed),
                      "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
