#!/usr/bin/env python3
"""Targeted driver-contract verification: run the named queries with a
VANILLA SparkSession (the driver's posture — no repo session factory)
and compare against the DuckDB oracle, exactly like the round harness.

Usage: python tools/verify_some.py [--sf /root/testdata/sf0.01] q1 q2 ...
With no names: every oracle-backed query; with --all: every registered
query (rows-only ones are run and their row counts printed). A query or
oracle that raises is reported and the sweep goes on. Exit code 1 on any
mismatch or error.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--all", action="store_true", help="include rows-only queries")
    args = ap.parse_args()

    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as mod

    spark = SparkSession.builder.master(
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]"
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'")
    qs, orc = mod.queries(), mod.oracle_sql()
    names = args.names or [n for n in qs if args.all or n in orc]
    failed = []
    for name in names:
        t0 = time.perf_counter()
        try:
            sp = qs[name](spark, args.sf).toPandas()
            du = con.execute(orc[name]).fetchdf() if name in orc else None
        except Exception as e:  # noqa: BLE001 — report and keep sweeping
            print(f"{name}: ERROR {type(e).__name__}: {str(e)[:300]}", flush=True)
            failed.append(name)
            continue
        status = "rows_only"
        if du is not None:
            cols = sorted(sp.columns)
            ok = (
                sorted(du.columns) == cols
                and len(sp) == len(du)
                and sorted(map(tuple, sp[cols].astype(str).values.tolist()))
                == sorted(map(tuple, du[cols].astype(str).values.tolist()))
            )
            status = "MATCH" if ok else "MISMATCH"
            if not ok:
                failed.append(name)
        print(
            f"{name}: {status} rows={len(sp)} ({time.perf_counter() - t0:.1f}s)",
            flush=True,
        )
    if failed:
        print(f"FAILED: {failed}")
        sys.exit(1)
    print("ALL MATCH")
    spark.stop()


if __name__ == "__main__":
    main()
