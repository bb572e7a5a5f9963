#!/usr/bin/env python3
"""Time every registered query at sf0.01 (driver-sweep emulation): build
it and write it to the noop sink (``bench.materialize``), with its row
count from an Observation on that same write."""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Observation  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import bench  # noqa: E402
from e_commerce_data_engineering_spark.plans.registry import all_queries  # noqa: E402
from e_commerce_data_engineering_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark(app_name="sweep-timing")
    timings = {}
    t_all = time.perf_counter()
    for name, fn in all_queries().items():
        t0 = time.perf_counter()
        try:
            obs = Observation()
            bench.materialize(fn(spark, sf_dir).observe(obs, F.count(F.lit(1)).alias("n")))
            n, err = obs.get["n"], None
        except Exception as e:  # noqa: BLE001
            n, err = -1, str(e)[:200]
        timings[name] = {"sec": round(time.perf_counter() - t0, 2), "rows": n, "err": err}
    total = round(time.perf_counter() - t_all, 2)
    print(json.dumps({"total_sec": total, "queries": timings}, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
