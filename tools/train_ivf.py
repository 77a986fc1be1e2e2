#!/usr/bin/env python
"""Train the q26 served-index IVF snapshot and write it as a code literal.

Runs :func:`webextract.sim.kmeans_centroids` once over the driver's
embeddings table (sf0.01 — the correctness-gate scale), L2-normalizes the
centroids with :func:`webextract.sim.normalize_centroids` (PURE-PYTHON
sequential arithmetic, so the stored floats are the exact doubles both
engines will consume — no numpy reduction order involved), and writes
``src/webextract/ivf_snapshot.py``.

This is the q19 hyperplane trick applied to a data-dependent model: q19's
planes are seed-derived, so both engines can re-derive them; IVF centroids
come from training, so the snapshot IS the served index — the thing a real
deployment would load from a model store. q26 embeds these literals in both
the Spark call and the DuckDB oracle, making the IVF path fully
value-checkable.

Usage: python tools/train_ivf.py [--sf /root/testdata/sf0.01]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "src"))

N_CENTROIDS = 8
N_ITER = 2
SEED = 7


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    from webextract.session import get_spark
    from webextract.sim import kmeans_centroids, normalize_centroids

    spark = get_spark(app="train-ivf", master="local[8]", shuffle_partitions=8)
    e = spark.read.parquet(f"{args.sf}/embeddings.parquet")
    cents = kmeans_centroids(e, n_centroids=N_CENTROIDS, n_iter=N_ITER,
                             id_col="vec_id", seed=SEED)
    spark.stop()

    normed = normalize_centroids(cents)

    out = os.path.join(os.path.dirname(__file__), "..", "src", "webextract",
                       "ivf_snapshot.py")
    with open(out, "w") as f:
        f.write('"""Served IVF index for q26: L2-normalized k-means centroids.\n'
                "\n"
                f"Trained by tools/train_ivf.py over {args.sf}/embeddings.parquet\n"
                f"(n_centroids={N_CENTROIDS}, n_iter={N_ITER}, seed={SEED};\n"
                "normalization is a pure-python sequential fold so the stored\n"
                "doubles are engine-neutral). Regenerate with the tool after any\n"
                "change to kmeans_centroids or the training parameters.\n"
                '"""\n\n'
                "IVF_CENTROIDS_SF001 = [\n")
        for c in normed:
            f.write("    [" + ",\n     ".join(
                ", ".join(repr(x) for x in c[i:i + 4])
                for i in range(0, len(c), 4)) + "],\n")
        f.write("]\n")
    print(f"wrote {os.path.normpath(out)}: {len(normed)}x{len(normed[0])} "
          f"normalized centroids")


if __name__ == "__main__":
    main()
