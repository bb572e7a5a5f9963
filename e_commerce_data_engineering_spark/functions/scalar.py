"""Scalar Column expressions reproducing the reference's business logic
(SURVEY §2.8, F1–F14) as pure Catalyst expressions — zero Python UDFs,
so every classification stays inside whole-stage codegen.

Each builder takes Columns and returns a Column, so the same semantics
serve both the order-enrichment pipeline (reference parity: money goes
through ``rounding.round2``, Python's ``round(x, 2)``) and the analytics
surface.

Reference cites: /root/reference/ecommerce-order-processor.py (classify
thresholds :14-26, segments :29-35, priority :88-102) and
/root/reference/ecommerce-order-generator-function.py (shipping :70-74,
tax :83-85).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .rounding import round2

# Thresholds from ecommerce-order-processor.py:14-15
VIP_QUANTITY_THRESHOLD = 10
VIP_AMOUNT_THRESHOLD = 1000.0
MAJOR_CITIES = ("Paris", "Lyon", "Marseille")


def classify_order_value(total_amount: Column) -> Column:
    """4-way threshold CASE — ecommerce-order-processor.py:18-26 (F1)."""
    return (
        F.when(total_amount >= 1000, "premium")
        .when(total_amount >= 500, "high_value")
        .when(total_amount >= 100, "medium_value")
        .otherwise("low_value")
    )


def classify_customer_segment(total_quantity: Column, total_amount: Column) -> Column:
    """vip / regular / occasional — ecommerce-order-processor.py:29-35 (F2)."""
    return (
        F.when(
            (total_quantity >= VIP_QUANTITY_THRESHOLD) | (total_amount >= VIP_AMOUNT_THRESHOLD),
            "vip",
        )
        .when(total_amount >= 300, "regular")
        .otherwise("occasional")
    )


def delivery_priority_score(total_amount: Column, city: Column, status: Column) -> Column:
    """Additive score — ecommerce-order-processor.py:88-99 (F3)."""
    return (
        F.when(total_amount >= 500, 3).otherwise(0)
        + F.when(city.isin(*MAJOR_CITIES), 2).otherwise(0)
        + F.when(status.isin("shipped", "confirmed"), 2).otherwise(0)
    )


def delivery_priority(total_amount: Column, city: Column, status: Column) -> Column:
    """urgent / normal / standard — ecommerce-order-processor.py:100-102 (F3)."""
    score = delivery_priority_score(total_amount, city, status)
    return F.when(score >= 5, "urgent").when(score >= 3, "normal").otherwise("standard")


def shipping_cost(subtotal: Column, city: Column) -> Column:
    """Free ≥100; else 4.99 major city / 7.99 — generator:70-74 (F13)."""
    return (
        F.when(subtotal >= 100, F.lit(0.0))
        .when(city.isin(*MAJOR_CITIES), F.lit(4.99))
        .otherwise(F.lit(7.99))
    )


def tax_amount(subtotal: Column, shipping: Column, rate: float = 0.20) -> Column:
    """round((subtotal+shipping)·rate, 2) — generator:83-84 (F14)."""
    return round2((subtotal + shipping) * rate)


def ratio_pct_guarded(num: Column, den: Column) -> Column:
    """round(num/den·100, 2) with zero-denominator guard —
    processor:153-154,42 (F10)."""
    return F.when(den > 0, round2(num / den * 100)).otherwise(F.lit(0.0))


def is_weekend(ts: Column) -> Column:
    """Python weekday()>=5 ⇔ Spark dayofweek ∈ {Sat=7, Sun=1} — processor:158 (F7)."""
    return F.dayofweek(ts).isin(1, 7)


def day_name_english(ts: Column) -> Column:
    """English weekday name matching strftime('%A') — processor:157 (F6)."""
    return F.date_format(ts, "EEEE")
