"""Property-based checks of the two rounding disciplines: for arbitrary
doubles, Spark's fround and DuckDB's sql_fround (plans/money.py) emit
the same digits — the invariant every oracle pair relies on — and
``round2`` (functions/rounding.py) is Python's ``round(x, 2)`` bit for
bit — the reference parity of every money field. Hypothesis drives the
value space (including half-cent boundaries, denormals, negatives)."""

from __future__ import annotations

import math
import struct

import duckdb
import pytest
from hypothesis import example, given, settings, strategies as st

from e_commerce_data_engineering_spark.functions.rounding import round2
from e_commerce_data_engineering_spark.plans.money import fround, sql_fround

import pyspark.sql.functions as F


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.floats(
            min_value=-1e9,
            max_value=1e9,
            allow_nan=False,
            allow_infinity=False,
        ),
        min_size=1,
        max_size=50,
    ),
    st.integers(min_value=0, max_value=6),
)
def test_fround_matches_duckdb(spark_global, values, ndigits):
    spark = spark_global
    df = spark.createDataFrame([(v,) for v in values], "v double")
    got = [r["r"] for r in df.select(fround(F.col("v"), ndigits).alias("r")).collect()]
    con = duckdb.connect()
    expr = sql_fround("v", ndigits)
    want = [
        con.execute(f"SELECT {expr} AS r FROM (SELECT CAST(? AS DOUBLE) AS v)", [v]).fetchone()[0]
        for v in values
    ]
    assert got == want, list(zip(values, got, want))


@pytest.fixture(scope="session")
def spark_global(spark):
    return spark


def _bits(v):
    """Bit identity of a double (the sign of zero counts); one NaN."""
    return None if v is None else "nan" if v != v else struct.pack("<d", v)


_ROUND2_CORNERS = [
    float("nan"), float("inf"), float("-inf"), 0.0, -0.0, 5e-324, -5e-324, 1e308, -1e308,
    345.97 / 2,  # shortest repr "172.985", binary just above: Python says 172.99
    0.005, -0.005, 2.675, 1.005, 0.125, 0.375,
    2.0**45 + 0.125,  # [2^45, 2^46): x*100 is an exact half-integer tie
    2.0**45 + 0.375,
    35184372088832.01,  # x*100 has ulp 0.5 here
    2.0**46 - 2.0**-7,  # largest double that still rounds
    2.0**46,
    617.285,  # a half cent and its one-ulp neighbours
    math.nextafter(617.285, math.inf),
    math.nextafter(617.285, -math.inf),
]


@settings(max_examples=25, deadline=None)
@given(st.lists(st.floats(allow_nan=True, allow_infinity=True) | st.none(), min_size=1, max_size=60))
@example(_ROUND2_CORNERS)
def test_round2_is_python_round(spark_global, values):
    got = [
        r["r"]
        for r in spark_global.createDataFrame([(v,) for v in values], "v double")
        .select(round2(F.col("v")).alias("r"))
        .collect()
    ]
    want = [None if v is None else round(v, 2) for v in values]
    assert [_bits(g) for g in got] == [_bits(w) for w in want], [
        (v, g, w) for v, g, w in zip(values, got, want) if _bits(g) != _bits(w)
    ]


# ---------------------------------------------------------------------------
# SymSpell completeness lemma (d25's correctness foundation)
# ---------------------------------------------------------------------------


def _dels(w: str) -> set:
    return {w} | {w[:i] + w[i + 1 :] for i in range(len(w))}


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@given(
    st.text(alphabet="abc", min_size=0, max_size=8),
    st.text(alphabet="abc", min_size=0, max_size=8),
)
@settings(max_examples=500, deadline=None)
def test_symspell_deletion_neighborhood_is_complete_for_lev1(a, b):
    """d25's candidate generator rests on: levenshtein(a, b) <= 1 =>
    the single-deletion neighborhoods (including the words themselves)
    intersect — for substitution both sides delete the differing
    position, for insertion/deletion the longer side deletes the extra
    character, for identity the words themselves collide. Hypothesis
    over a deliberately tiny alphabet maximizes near-miss collisions."""
    if _lev(a, b) <= 1:
        assert _dels(a) & _dels(b), (a, b)
