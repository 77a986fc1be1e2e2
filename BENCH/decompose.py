#!/usr/bin/env python
"""Decompose extract-job wall time at a given parallelism: which component
stops scaling at high core counts?

Phases measured on the same corpus, same session, each after a warm-up:
  scan       — parquet scan + count (JVM only)
  shuffle    — scan -> salted repartition -> noop sink (JVM only)
  arrow_rt   — scan -> repartition -> PASSTHROUGH mapInPandas -> noop
               (full JVM<->Python Arrow round-trip, ~zero Python compute)
  extract    — the real job (arrow_rt + per-doc extraction CPU)

Also samples /proc to split consumed CPU seconds between the JVM(s) and the
Python workers during the extract phase.

Usage: python BENCH/decompose.py --master local[32] --cores 32 [--docs 80000]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "src"))
sys.path.insert(0, os.path.join(REPO, "BENCH"))
sys.path.insert(0, REPO)

CLK = os.sysconf("SC_CLK_TCK")


def _descendants(root: int) -> dict[int, str]:
    """pid -> comm for all descendants of root (incl. root)."""
    kids: dict[int, list[int]] = {}
    comm: dict[int, str] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parts = f.read().rsplit(")", 1)
                pid = int(d)
                name = parts[0].split("(", 1)[1]
                ppid = int(parts[1].split()[1])
        except OSError:
            continue
        kids.setdefault(ppid, []).append(pid)
        comm[pid] = name
    out, stack = {}, [root]
    while stack:
        p = stack.pop()
        if p in comm:
            out[p] = comm[p]
        stack.extend(kids.get(p, []))
    return out


def _cpu_seconds(pids: dict[int, str]) -> dict[str, float]:
    """CPU seconds consumed so far, bucketed java vs python."""
    buckets = {"java": 0.0, "python": 0.0, "other": 0.0}
    for pid, name in pids.items():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            cpu = (int(fields[11]) + int(fields[12])) / CLK  # utime+stime
        except OSError:
            continue
        key = ("java" if "java" in name
               else "python" if "python" in name else "other")
        buckets[key] += cpu
    return buckets


class CpuSampler:
    """Tracks cumulative CPU of this process tree across a phase (summing
    dead children is impossible per-pid, so sample fast and keep the max)."""

    def __init__(self):
        self.stop = threading.Event()
        self.t = None
        self.max_seen = {"java": 0.0, "python": 0.0, "other": 0.0}

    def _loop(self):
        me = os.getpid()
        while not self.stop.is_set():
            cur = _cpu_seconds(_descendants(me))
            for k, v in cur.items():
                self.max_seen[k] = max(self.max_seen[k], v)
            time.sleep(0.2)

    def __enter__(self):
        self.base = _cpu_seconds(_descendants(os.getpid()))
        self.stop.clear()
        self.t = threading.Thread(target=self._loop, daemon=True)
        self.t.start()
        return self

    def __exit__(self, *exc):
        self.stop.set()
        self.t.join(timeout=2)
        self.delta = {k: round(self.max_seen[k] - self.base.get(k, 0.0), 1)
                      for k in self.max_seen}
        return False


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--master", default="local[32]")
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--docs", type=int, default=80_000)
    ap.add_argument("--scale", type=int, default=10)
    ap.add_argument("--equalize", action="store_true")
    args = ap.parse_args()

    from bench import corpus_parquet
    from scaling import equalize_load
    from webextract.session import get_spark
    from webextract.sparkjob import EXTRACTED_SCHEMA, extract_df

    parquet = corpus_parquet(args.docs, content_scale=args.scale)
    spark = get_spark(app="decompose", master=args.master,
                      shuffle_partitions=args.cores,
                      extra={"spark.sql.files.maxPartitionBytes":
                             str(4 * 1024 * 1024)})
    from pyspark.sql import functions as F

    pages = spark.read.parquet(parquet)
    n = pages.count()
    cores = args.cores

    def passthrough(batches):
        import pandas as pd
        for pdf in batches:
            m = len(pdf)
            yield pd.DataFrame({
                "url": pdf["url"], "warc_ts": pdf["warc_ts"],
                "lang": pdf["lang"], "text": [""] * m,
                "spans": [[] for _ in range(m)], "status": ["ok"] * m,
                "error": [None] * m, "content_type": ["html"] * m,
                "n_blocks": [0] * m,
                "html_bytes": pdf["html"].map(lambda b: len(b) if b is not None else 0),
                "partition_id": -1,
            })

    def reparted(df):
        return df.repartition(spark.sparkContext.defaultParallelism,
                              F.xxhash64(F.col("url"), F.lit(0x5EED)))

    phases = {}

    def timed(name, fn, warm=True):
        if warm:
            fn()
        ctx = equalize_load(cores) if args.equalize else None
        if ctx:
            ctx.__enter__()
        t0 = time.perf_counter()
        fn()
        phases[name] = round(time.perf_counter() - t0, 2)
        if ctx:
            ctx.__exit__(None, None, None)

    timed("scan", lambda: pages.count())
    timed("shuffle", lambda: reparted(pages).write.format("noop")
          .mode("overwrite").save())
    timed("arrow_rt", lambda: reparted(pages.select(
        "url", "warc_ts", "lang", "html"))
        .mapInPandas(passthrough, schema=EXTRACTED_SCHEMA)
        .write.format("noop").mode("overwrite").save())

    # extract phase with CPU sampling
    extract_df(pages.limit(cores * 128)).write \
        .format("noop").mode("overwrite").save()
    ctx = equalize_load(cores) if args.equalize else None
    if ctx:
        ctx.__enter__()
    with CpuSampler() as cs:
        t0 = time.perf_counter()
        extract_df(pages).write.format("noop") \
            .mode("overwrite").save()
        wall = time.perf_counter() - t0
    if ctx:
        ctx.__exit__(None, None, None)
    phases["extract"] = round(wall, 2)

    out = {"master": args.master, "cores": cores, "docs": n,
           "phases_sec": phases,
           "extract_docs_per_sec": round(n / wall, 1),
           "extract_cpu_sec": cs.delta,
           "cpu_utilization": round(
               sum(cs.delta.values()) / (wall * cores), 3)}
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
