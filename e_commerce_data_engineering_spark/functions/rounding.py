"""Python-exact money rounding as one Catalyst expression.

The reference rounds every money value with Python ``round(x, 2)``,
which rounds the double's *exact binary value* half-to-even. Spark's
``bround`` rounds the shortest decimal string instead, so the two
disagree whenever that string sits on a half-cent: 345.97/2 prints as
"172.985" (``bround`` → 172.98) but is 172.98500000000001 in binary
(Python → 172.99).

``round2`` recovers the binary value with double arithmetic alone. The
product ``p = x*100`` is off from the exact ``x·100`` by at most half
an ulp; Dekker's split of ``x`` into two 26-bit halves gives that error
``e`` exactly (each half times 100 is exact). With ``n = rint(p)`` and
``d = p - n`` the exact value is ``n + d + e``, and ``n`` is the right
integer except when ``p`` itself is a half-integer (``|d| = 0.5``) that
``rint`` broke to even: the exact value lies past the tie on the side
``e`` points to, so ``e`` with the sign of ``d`` means ``n + 2d``. An
exact tie (``e = 0``) stays half-even, as in Python. Where ``p`` has
ulp 1 and the exact value is a tie (``|e| = 0.5``), the product has
already broken it to even, so ``n`` is right there too.

The result is picked by a CASE, never by adding a 0.0 adjustment, which
would turn -0.0 into 0.0. At ``|x| ≥ 2^46`` a double's ulp exceeds a
cent and Python returns ``x`` unchanged; so does ``round2`` (also for
±inf). NaN stays NaN and null stays null, as in Python.
``tools/check_round2.py`` compares it with Python on 1M+ doubles.

The formula reads ``x`` 18 times, so ``round2`` binds its argument to
the variable of a SQL lambda over a one-element array and evaluates it
once. Without the binding every use would copy the argument's whole
tree, and Catalyst's alias inlining (filter pushdown, project collapse)
multiplies the copies through nested roundings: the generator's
``total_amount`` holds ``tax_amount``, and validating 2,000 generated
orders built a plan that exhausted the driver heap. The lambda is SQL
text so that building it costs one JVM call, not one per operator.
Higher-order functions run interpreted (``CodegenFallback``), under a
microsecond per value.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_P = "(v * 100D)"
_C = "(v * 134217729D)"  # 2^27 + 1: Dekker's splitter for 53-bit doubles
_XH = f"({_C} - ({_C} - v))"  # v's high 26 bits; v - _XH is exact
_E = f"(({_XH} * 100D - {_P}) + (v - {_XH}) * 100D)"  # exact: v*100 == p + e
_N = f"rint({_P})"
_D = f"({_P} - {_N})"
_R = f"CASE WHEN abs({_D}) = 0.5D AND {_E} * {_D} > 0D THEN {_N} + 2D * {_D} ELSE {_N} END"
# from 2^46 on every double is its own round(x, 2)
_ROUND2 = f"v -> CASE WHEN abs(v) >= {2**46}D THEN v ELSE {_R} / 100D END"


def round2(x: Column) -> Column:
    """Python ``round(x, 2)`` on a double Column, bit for bit."""
    return F.call_function("transform", F.array(x), F.expr(_ROUND2))[0]
