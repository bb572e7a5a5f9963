"""Row validation + quarantine split (SURVEY §2.2 P2/P3) — the Spark
twin of ``validate_order`` (/root/reference/ecommerce-order-processor.py:105-119).

The reference logs & drops invalid rows (no DLQ; its README.md:68
recommends one). We upgrade to a quarantine split: the invalid side
keeps the rows plus an ``errors array<string>`` column with the
reference's own (French) messages, so nothing is silently lost.

One rule is ours: ``num_items`` must be a positive count, because the
enrichment divides by it (``average_item_value``). Under ANSI mode a
zero raises DIVIDE_BY_ZERO, which would abort the whole write (and, in
the stream, fail the same epoch again on every restart).

The ``errors`` Column and the two tests on it are built once per JVM
(``_split_columns``, keyed on the py4j gateway they live in) and live
as long as it; every ``split_valid`` call after the first reuses them,
so a micro-batch pays a few py4j round trips here, not a rebuild of
the five rules. A Column is an unresolved expression that each plan
resolves on its own, and its lambda variable got a unique name when it
was built, so one Column serves every plan.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SUBTOTAL_TOLERANCE = 0.01  # processor:116

ERR_TOTAL = "Montant total invalide"  # processor:109
ERR_ORDER_ID = "ID commande manquant"  # processor:111
ERR_NO_ITEMS = "Aucun article"  # processor:113
ERR_SUBTOTAL = "Sous-total incohérent"  # processor:117
ERR_NUM_ITEMS = "Nombre d'articles invalide"  # divisor of average_item_value


def error_array() -> Column:
    """Per-rule F.when → array_compact, mirroring processor:106-117
    plus the ``num_items`` rule."""
    items_sum = F.aggregate(
        F.coalesce(F.col("items"), F.array()), F.lit(0.0), lambda a, x: a + x["subtotal"]
    )
    checks = [
        F.when(F.coalesce(F.col("total_amount"), F.lit(0.0)) <= 0, F.lit(ERR_TOTAL)),
        F.when(
            F.col("order_id").isNull() | (F.length("order_id") == 0), F.lit(ERR_ORDER_ID)
        ),
        F.when(F.col("items").isNull() | (F.size("items") == 0), F.lit(ERR_NO_ITEMS)),
        F.when(F.coalesce(F.col("num_items"), F.lit(0)) <= 0, F.lit(ERR_NUM_ITEMS)),
        F.when(
            F.abs(items_sum - F.coalesce(F.col("subtotal"), F.lit(0.0))) > SUBTOTAL_TOLERANCE,
            F.lit(ERR_SUBTOTAL),
        ),
    ]
    return F.array_compact(F.array(*checks))


def split_valid(raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """→ (valid_rows, quarantined_rows_with_errors).

    One shared ``errors`` projection: Catalyst dedups the expression;
    the two filters read the same cached scan.
    """
    errors, is_valid, is_invalid = _split_columns(raw.sparkSession.sparkContext._gateway)
    with_errors = raw.withColumn("errors", errors)
    valid = with_errors.filter(is_valid).drop("errors")
    invalid = with_errors.filter(is_invalid)
    return valid, invalid


@functools.lru_cache(maxsize=1)
def _split_columns(gateway) -> tuple[Column, Column, Column]:
    """(``error_array()``, its valid-row test, its quarantine test),
    built once for the JVM behind ``gateway``. Two threads may both
    build them; either result is correct."""
    n_errors = F.size("errors")
    return error_array(), n_errors == 0, n_errors > 0
