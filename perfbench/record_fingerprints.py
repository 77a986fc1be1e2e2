"""Record the input fingerprints that run.py checks before every run.

    python3 perfbench/record_fingerprints.py --seeds 0-40

Writes perfbench/fingerprints.json: per workload, the canary fingerprint
and one fingerprint per listed seed. Re-record only when a workload is
meant to change; that is a change of the benchmark itself.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, os.path.join(ROOT, "src")]

import inputs  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="0-40", help="inclusive range a-b")
    args = ap.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = [w["name"] for w in json.load(f)["workloads"]]
    out = {}
    work = tempfile.mkdtemp(dir=os.path.join(ROOT, ".perfbench_run"))
    try:
        for name in names:
            rec = {"canary": inputs.canary_fingerprint(name, work), "seeds": {}}
            for seed in range(lo, hi + 1):
                d = os.path.join(work, f"{name}-{seed}")
                rec["seeds"][str(seed)] = inputs.fingerprint(
                    inputs.generate(name, d, seed))
                shutil.rmtree(d)
            out[name] = rec
            print(name, "recorded", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(inputs.FINGERPRINTS, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
