"""Seeded-generator properties (SURVEY §5.2-6): partition-layout
determinism, distributional sanity, and money-math invariants."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from e_commerce_data_engineering_spark.functions.rounding import round2
from e_commerce_data_engineering_spark.sources.generator import batch_stats, generate_orders

NOW = dt.datetime(2026, 8, 10, 12, 0, 0, tzinfo=dt.timezone.utc)


def _rows(df):
    return sorted((r["order_id"], r["customer_id"], r["total_amount"]) for r in df.collect())


def test_partition_independent_determinism(spark):
    """Hash-keyed draws ⇒ identical data for any partition count —
    the property F.rand(seed) lacks (SURVEY §7.4-6)."""
    a = generate_orders(spark, 500, seed=42, now=NOW, num_partitions=2)
    b = generate_orders(spark, 500, seed=42, now=NOW, num_partitions=16)
    assert _rows(a) == _rows(b)


def test_seed_changes_data(spark):
    a = generate_orders(spark, 100, seed=1, now=NOW)
    b = generate_orders(spark, 100, seed=2, now=NOW)
    assert _rows(a) != _rows(b)


def test_money_invariants(spark):
    """total = round(subtotal+shipping+tax, 2); tax = round((subtotal+
    shipping)·0.2, 2); Σ items.subtotal == subtotal (generator:79-85)."""
    df = generate_orders(spark, 400, seed=42, now=NOW)
    bad = df.filter(
        (F.abs(F.col("total_amount") - round2(F.col("subtotal") + F.col("shipping_cost") + F.col("tax_amount"))) > 1e-9)
        | (F.abs(F.col("tax_amount") - round2((F.col("subtotal") + F.col("shipping_cost")) * 0.2)) > 1e-9)
        | (
            F.abs(
                F.aggregate("items", F.lit(0.0), lambda a, x: a + x["subtotal"])
                - F.col("subtotal")
            )
            > 1e-9
        )
        | (F.col("num_items") != F.size("items"))
    ).count()
    assert bad == 0


def test_distributions_roughly_match_reference(spark):
    """Weighted draws land near generator.py:49,54,86-87 weights."""
    n = 4000
    df = generate_orders(spark, n, seed=42, now=NOW).cache()
    item_counts = dict(
        df.groupBy("num_items").count().rdd.map(lambda r: (r[0], r[1])).collect()
    )
    assert abs(item_counts[1] / n - 0.5) < 0.05
    assert abs(item_counts[2] / n - 0.3) < 0.05
    assert abs(item_counts[3] / n - 0.2) < 0.05
    status = dict(df.groupBy("status").count().rdd.map(lambda r: (r[0], r[1])).collect())
    assert abs(status["confirmed"] / n - 0.4) < 0.05
    assert abs(status.get("cancelled", 0) / n - 0.05) < 0.03
    # sampling w/o replacement: no duplicate product in an order
    dup = df.filter(
        F.size(F.array_distinct(F.transform("items", lambda x: x["product_id"])))
        != F.size("items")
    ).count()
    assert dup == 0
    df.unpersist()


def test_batch_stats(spark):
    df = generate_orders(spark, 100, seed=42, now=NOW)
    row = batch_stats(df).collect()[0]
    assert row["total_orders"] == 100
    assert row["total_revenue"] > 0
    assert abs(row["average_order_value"] - round(row["total_revenue"] / 100, 2)) <= 0.01
