#!/usr/bin/env python
"""Replicate the driver's correctness gate locally: run each __spark_entry__
query on Spark AND its oracle SQL on DuckDB over the same parquet tables;
compare row count, sorted column names, and order-insensitive values.

Usage: python tools/check_oracle.py [--sf /root/testdata/sf0.01] [--only name]
"""

from __future__ import annotations

import argparse
import math
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "src"))
sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

TABLES = ["events", "documents", "embeddings"]


def _canon(v):
    """Canonicalize a cell so Spark and DuckDB representations compare equal."""
    import datetime
    import decimal

    # numpy scalars (from the pandas .df() path) → native python first, so a
    # numpy.float64 canonicalizes exactly like the float the driver hashes
    item = getattr(v, "item", None)
    if item is not None and type(v).__module__ in ("numpy", "numpy.core"):
        v = item()
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # exact repr: the driver hashes values exactly, so the local gate
        # must too (round-1 q09 passed locally at 9 digits but failed the
        # driver's exact hash)
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def _from_pandas(v):
    """Undo pandas container types so _canon sees driver-equivalent values
    (pd.Timestamp → datetime, numpy arrays → lists; numpy scalars are
    handled in _canon so both result paths share the conversion)."""
    import numpy as np
    import pandas as pd

    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    if isinstance(v, np.ndarray):
        return [_from_pandas(x) for x in v.tolist()]
    return v


def rows_canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_canon(r[i]) for i in order) for r in rows)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument("--only", action="append", default=None,
                    help="substring filter; repeatable (any match runs)")
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as entry
    from webextract.session import get_spark

    spark = get_spark(app="check-oracle", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{args.sf}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if args.only and not any(o in name for o in args.only):
            continue
        try:
            sdf = fn(spark, args.sf)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        if name not in oracles:
            failures.append(name)
            print(f"FAIL  {name}: no oracle SQL")
            continue
        try:
            # canonicalize through pandas (.df()), NOT fetchall(): the driver
            # converts DuckDB results through pandas, where e.g. a HUGEINT
            # (any un-cast SUM(INTEGER)) becomes float64 ('19525.0') while
            # fetchall() yields a python int ('19525'). Round-2's q09 passed
            # the fetchall() gate locally and failed the driver's hash for
            # exactly this reason — the gate must see what the driver sees.
            ddf = con.execute(oracles[name]).df()
            dcols = list(ddf.columns)
            drows = [tuple(_from_pandas(x) for x in row)
                     for row in ddf.itertuples(index=False, name=None)]
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        ok_count = len(srows) == len(drows)
        ok_schema = sorted(scols) == sorted(dcols)
        ok_vals = ok_count and ok_schema and rows_canon(scols, srows) == rows_canon(dcols, drows)
        status = "OK  " if (ok_count and ok_schema and ok_vals) else "FAIL"
        if status == "FAIL":
            failures.append(name)
        print(f"{status}  {name}: rows {len(srows)}/{len(drows)} "
              f"schema={'ok' if ok_schema else f'{sorted(scols)} vs {sorted(dcols)}'} "
              f"values={'ok' if ok_vals else 'MISMATCH'}")
        if not ok_vals and ok_count and ok_schema:
            a = rows_canon(scols, srows)
            b = rows_canon(dcols, drows)
            for x, y in zip(a, b):
                if x != y:
                    print(f"      spark:  {x[:160]}")
                    print(f"      duckdb: {y[:160]}")
                    break
    spark.stop()
    if failures:
        print(f"\n{len(failures)} FAILURES: {failures}")
        sys.exit(1)
    print("\nall queries match")


if __name__ == "__main__":
    main()
