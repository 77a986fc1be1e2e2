#!/usr/bin/env python
"""Targeted query isolation bench (guide §1.4): times individual registry
queries against a noop sink and optionally captures .explain("formatted").

This file is NOT the driver contract — bench.py stays frozen. Use:

    python bench_extra.py --sf /root/testdata/sf1.0 --reps 2 \
        q16_embedding_near_pairs q68_semdedup
    python bench_extra.py --sf /root/testdata/sf1.0 --explain plans/r06 \
        --suffix before q16_embedding_near_pairs

Prints one JSON line {"sf":..., "queries": {name: best_sec}}.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "src"))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _positive_int(text: str) -> int:
    n = int(text)
    if n < 1:
        raise argparse.ArgumentTypeError(f"must be >= 1, got {n}")
    return n


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--reps", type=_positive_int, default=2)
    ap.add_argument("--explain", default=None,
                    help="directory to write <name>_<suffix>.txt plans into")
    ap.add_argument("--suffix", default="before")
    args = ap.parse_args()

    os.environ.setdefault("WEBEXTRACT_DRIVER_MEM", "16g")
    import __spark_entry__ as entry
    from webextract.session import get_spark

    mpb = int(float(os.environ.get("BENCH_MAX_PARTITION_MB", "8")) * 1024 * 1024)
    spark = get_spark(app="webextract-bench-extra",
                      master=f"local[{args.cpus}]",
                      shuffle_partitions=args.cpus,
                      extra={"spark.sql.files.maxPartitionBytes": str(mpb)})

    qs = entry.queries()
    timings: dict[str, float] = {}
    for name in args.names:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        if args.explain:
            os.makedirs(args.explain, exist_ok=True)
            df = fn(spark, args.sf)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(args.explain,
                                   f"{name}_{args.suffix}.txt"), "w") as f:
                f.write(buf.getvalue())
        best = None
        for _ in range(args.reps):
            t0 = time.perf_counter()
            df = fn(spark, args.sf)
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
        print(f"# {name}: {timings[name]}s", file=sys.stderr)
        spark.sparkContext.setJobDescription(None)
    spark.stop()
    print(json.dumps({"sf": args.sf, "cpus": args.cpus,
                      "reps": args.reps, "queries": timings}))


if __name__ == "__main__":
    main()
