"""The 29-column order enrichment (SURVEY §2.2 P1) as pure Column
expressions — the Spark twin of ``process_order``
(/root/reference/ecommerce-order-processor.py:122-161), minus the
validation gate (functions/validate.py) which the reference applies
first (processor:123-126).

Everything is Catalyst higher-order functions over the ``items`` array:
no shuffle, no UDF. Higher-order functions have no generated code, so
the projection that holds them runs outside whole-stage codegen and
evaluates them interpreted. Every reference ``round(x, 2)`` goes through ``rounding.round2``, Python's
rounding as one Catalyst expression, so this module is bit-for-bit
parity-tested against the reference implementation.

The 29 Columns are built once per JVM (``_projection``, keyed on the
py4j gateway they live in) and live as long as it; every ``enrich``
call after the first reuses them. Building them costs ~1,200 py4j
round trips, applying them is one ``select``. Reuse is sound because
a Column is an unresolved expression that each plan resolves on its
own: ``processed_at``'s ``current_timestamp()`` is fixed per query by
the optimizer, and every lambda variable got a unique name when it was
built.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import scalar
from .rounding import round2


def _items() -> Column:
    return F.col("items")


def profit_analysis(items: Column) -> Column:
    """processor:38-48 (A2): cost=Σ price·0.6·qty, revenue=Σ subtotal,
    margin% with div-0 guard, all rounded to 2dp."""
    cost = F.aggregate(
        items, F.lit(0.0), lambda a, x: a + x["unit_price"] * 0.6 * x["quantity"]
    )
    revenue = F.aggregate(items, F.lit(0.0), lambda a, x: a + x["subtotal"])
    profit = revenue - cost
    return F.struct(
        round2(cost).alias("estimated_cost"),
        round2(revenue).alias("revenue"),
        round2(profit).alias("profit"),
        scalar.ratio_pct_guarded(profit, revenue).alias("margin_percentage"),
    )


def discount_pattern(items: Column) -> Column:
    """processor:67-85 (P4/A4): stats over the discounted subset with
    empty-subset guards."""
    disc = F.filter(items, lambda x: x["discount_percentage"] > 0)
    n_disc = F.size(disc)
    avg_pct = F.when(
        n_disc > 0,
        round2(
            F.aggregate(disc, F.lit(0), lambda a, x: a + x["discount_percentage"]).cast("double")
            / n_disc
        ),
    ).otherwise(F.lit(0.0))
    savings = F.when(
        n_disc > 0,
        F.aggregate(items, F.lit(0.0), lambda a, x: a + x["discount_amount"], round2),
    ).otherwise(F.lit(0.0))
    return F.struct(
        (n_disc > 0).alias("uses_discounts"),
        n_disc.alias("num_discounted_items"),
        avg_pct.alias("avg_discount_percentage"),
        savings.alias("total_savings"),
    )


def product_mix(items: Column) -> Column:
    """processor:51-64 (A3): group items by lower(category) INSIDE the
    row — shuffle-free via array_distinct + filter + aggregate, then
    map_from_entries. Key order = first appearance, like the Python
    dict the reference builds."""
    cats = F.array_distinct(F.transform(items, lambda x: F.lower(x["category"])))

    def _entry(c: Column) -> Column:
        sub = F.filter(items, lambda x: F.lower(x["category"]) == c)
        return F.struct(
            c.alias("key"),
            F.struct(
                F.size(sub).alias("count"),
                F.aggregate(sub, F.lit(0), lambda a, x: a + x["quantity"]).alias("quantity"),
                F.aggregate(sub, F.lit(0.0), lambda a, x: a + x["subtotal"], round2).alias(
                    "revenue"
                ),
            ).alias("value"),
        )

    return F.map_from_entries(F.transform(cats, _entry))


def enrich_columns(order_ts: Column) -> list[Column]:
    """The full 29-column projection (processor:130-161). ``order_ts``
    is the parsed order_date timestamp (processor:128 re-parses the
    ISO string; we take it as an argument so batch and streaming share
    the expression)."""
    items = _items()
    return [
        F.col("order_id"),
        F.col("order_date"),
        F.col("customer_id"),
        F.col("customer_email"),
        F.col("customer_city"),
        F.col("status"),
        F.col("payment_method"),
        items.alias("items"),
        F.col("num_items"),
        F.col("total_quantity"),
        F.col("subtotal"),
        F.col("total_discount"),
        F.col("shipping_cost"),
        F.col("tax_amount"),
        F.col("total_amount"),
        scalar.classify_order_value(F.col("total_amount")).alias("order_value_class"),
        scalar.classify_customer_segment(F.col("total_quantity"), F.col("total_amount")).alias(
            "customer_segment"
        ),
        scalar.delivery_priority(
            F.col("total_amount"), F.col("customer_city"), F.col("status")
        ).alias("delivery_priority"),
        profit_analysis(items).alias("profit_analysis"),
        discount_pattern(items).alias("discount_pattern"),
        product_mix(items).alias("product_mix"),
        round2(F.col("subtotal") / F.col("num_items")).alias("average_item_value"),
        scalar.ratio_pct_guarded(F.col("total_discount"), F.col("subtotal")).alias(
            "discount_rate"
        ),
        F.coalesce(F.col("tax_rate"), F.lit(0.0)).alias("tax_rate_applied"),
        F.hour(order_ts).alias("order_hour"),
        scalar.day_name_english(order_ts).alias("order_day_of_week"),
        scalar.is_weekend(order_ts).alias("is_weekend_order"),
        F.concat(
            F.date_format(F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"), F.lit("Z")
        ).alias("processed_at"),
        F.lit("2.0").alias("processor_version"),
    ]


def enrich(valid_orders: DataFrame) -> DataFrame:
    """Apply the enrichment to a validated raw-order DataFrame.

    order_date strings carry an explicit offset (…+00:00), so
    ``to_timestamp`` yields the correct UTC instant; hour/day-of-week
    are then session-timezone dependent exactly like the reference's
    ``fromisoformat`` (UTC fields). Run with session tz UTC for parity.
    """
    return valid_orders.select(*_projection(valid_orders.sparkSession.sparkContext._gateway))


@functools.lru_cache(maxsize=1)
def _projection(gateway) -> tuple[Column, ...]:
    """``enrich_columns`` over the parsed ``order_date``, built once for
    the JVM behind ``gateway``. Two threads may both build it; either
    result is correct."""
    order_ts = F.to_timestamp(F.regexp_replace(F.col("order_date"), "Z$", "+00:00"))
    return tuple(enrich_columns(order_ts))
