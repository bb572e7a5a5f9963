#!/usr/bin/env python3
"""Compare ``functions.rounding.round2`` with Python ``round(x, 2)`` on
1,000,000+ doubles, bit for bit (the sign of zero and NaN included),
and check that the plan holds no Python evaluation node.

The values cover every corner of the formula: NaN, ±inf, null, ±0.0,
the smallest subnormal, ±1e308, the largest double, the [2^45, 2^46)
band where ``x*100`` can be an exact half-integer, half cents and
their one-ulp neighbours, cent sums divided by 2 and 3
(``subtotal / num_items``, e.g. 345.97/2) and random bit patterns over
the whole exponent range.

Usage: python tools/check_round2.py   (exit code 1 on any mismatch)
"""

from __future__ import annotations

import os
import struct
import sys
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SEED = 20260813
PER_FAMILY = 125_000


def corpus() -> np.ndarray:
    rng = np.random.default_rng(SEED)
    special = np.array(
        [np.nan, np.inf, -np.inf, 0.0, -0.0, 5e-324, -5e-324, 1e308, -1e308,
         np.finfo(np.float64).max, 345.97 / 2, 0.005, -0.005, 2.0**45, 2.0**46,
         np.nextafter(2.0**46, 0.0), 0.125, 2.675, 1.005]
    )
    # half cents k/100 + 0.005, as doubles, and their one-ulp neighbours
    half = (rng.integers(-10**7, 10**7, PER_FAMILY) * 2 + 1) / 200.0
    half_up = np.nextafter(half, np.inf)
    half_dn = np.nextafter(half, -np.inf)
    # Σ cents / num_items with 2 or 3 items (the reference's average_item_value)
    cents = rng.integers(1, 10**7, PER_FAMILY) / 100.0
    per_item = cents / rng.integers(2, 4, PER_FAMILY)
    # [2^45, 2^46): x*100 has ulp 0.5 or 1, so p can be an exact tie or miss one
    band = 2.0**45 + rng.integers(0, 2**52, PER_FAMILY) / 2.0**7
    band_half = 2.0**45 + rng.integers(0, 2**47, PER_FAMILY) * 0.25 + 0.125  # x*100 = n + 0.5
    # raw bit patterns: every exponent, subnormals, NaN payloads
    bits = rng.integers(0, 2**63, PER_FAMILY, dtype=np.int64) * rng.choice([1, -1], PER_FAMILY)
    anybits = bits.view(np.float64)
    # money-sized uniforms with sub-cent noise
    money = rng.uniform(-1e6, 1e6, PER_FAMILY)
    fams = [half, half_up, half_dn, per_item, band, band_half, anybits, money]
    vals = np.concatenate([special] + fams + [-f for f in fams[:6]])
    return vals


def key(v) -> tuple:
    """Bit identity; every NaN is one NaN (Python keeps the payload,
    Spark canonicalizes it), and None is its own value."""
    if v is None:
        return (None,)
    if v != v:
        return ("nan",)
    return (struct.pack("<d", v),)


def main() -> int:
    from pyspark.sql import functions as F

    from e_commerce_data_engineering_spark.functions.rounding import round2
    from e_commerce_data_engineering_spark.session import get_spark

    vals = corpus()
    n = len(vals) + 1  # + one null
    spark = get_spark(app_name="check-round2", cpus=4)
    with tempfile.TemporaryDirectory(prefix="round2_") as tmp:
        src = os.path.join(tmp, "v.parquet")
        pq.write_table(
            pa.table({
                "id": pa.array(np.arange(n, dtype=np.int64)),
                "v": pa.array(list(vals) + [None], type=pa.float64()),
            }),
            src,
        )
        df = spark.read.parquet(src).select("id", round2(F.col("v")).alias("r"))
        plan = df._jdf.queryExecution().executedPlan().toString()
        got = df.orderBy("id").toArrow().column("r").to_pylist()
    want = [round(float(v), 2) for v in vals] + [None]
    bad = [(v, g, w) for v, g, w in zip(list(vals) + [None], got, want) if key(g) != key(w)]
    python_nodes = [t for t in ("ArrowEvalPython", "BatchEvalPython") if t in plan]
    print(f"{n:,} doubles: {len(bad)} mismatches; Python nodes in plan: {python_nodes or 'none'}")
    for v, g, w in bad[:20]:
        print(f"  x={v!r}: round2={g!r} python={w!r}")
    print(plan)
    return 1 if bad or python_nodes else 0


if __name__ == "__main__":
    sys.exit(main())
