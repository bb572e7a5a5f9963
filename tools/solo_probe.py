#!/usr/bin/env python3
"""Solo query probe (the optimization-round measurement recipe, guide
§1): for each named query, in THIS fresh process, dump
.explain('formatted') to plans/<tag>/<query>_<suffix>.txt, clear the
frame tier and IVF cache, and time N noop-sink runs with
spark.catalog.clearCache() before each — printing every sample so cold
(run 1, prices the query's frame-tier builds) and steady (best-of-rest,
tier reloads) are both visible.

Usage:
  python tools/solo_probe.py [--tag r13] [--suffix before] [--runs 3] q1 q2 ...
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from e_commerce_data_engineering_spark.frames import clear_frame_cache  # noqa: E402
from e_commerce_data_engineering_spark.operators.similarity import clear_ivf_cache  # noqa: E402
from e_commerce_data_engineering_spark.plans.registry import all_queries  # noqa: E402
from e_commerce_data_engineering_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--tag", default="r13")
    ap.add_argument("--suffix", default="")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--no-explain", action="store_true")
    args = ap.parse_args()

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = os.path.join(repo, "plans", args.tag)
    os.makedirs(out_dir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    spark = get_spark(app_name=f"solo-{args.names[0]}")
    queries = all_queries()
    # same warm-up the bench uses: JVM, codegen, parquet footers
    queries["q06_mktsegment_revenue"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    results = {}
    for name in args.names:
        fn = queries[name]
        if not args.no_explain:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            suffix = f"_{args.suffix}" if args.suffix else ""
            path = os.path.join(out_dir, f"{name}{suffix}.txt")
            with open(path, "w") as fh:
                fh.write(plan)
            n_exch = plan.count("Exchange")
            n_lines = plan.count("\n")
        else:
            n_exch = n_lines = -1
        # building the plan for the dump already built its frame-tier
        # entries; drop them so run 1 is cold
        spark.catalog.clearCache()
        clear_frame_cache()
        clear_ivf_cache()
        samples = []
        for _ in range(args.runs):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(round(time.perf_counter() - t0, 3))
        results[name] = {
            "samples": samples,
            "cold": samples[0],
            "steady": round(min(samples[1:]) if len(samples) > 1 else samples[0], 3),
            "plan_lines": n_lines,
            "exchanges": n_exch,
        }
        print(f"PROBE {name} {json.dumps(results[name])}", flush=True)
    print("PROBE_ALL " + json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
