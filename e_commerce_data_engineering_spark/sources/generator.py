"""Seeded, fully distributed order generator (SURVEY §2.1 S6, §2.8
F15–F21) — the Spark re-expression of
/root/reference/ecommerce-order-generator-function.py:38-107.

Design: one `spark.range(n)` and pure Column expressions. Every random
draw is an **order-keyed hash** (xxhash64 → uniform in [0,1)), not
``F.rand``: hash randomness is deterministic for a given seed
regardless of partition count or task scheduling, so the generator
produces the identical dataset on 1 core or 1000 executors — the
property F.rand lacks (SURVEY §7.4-6). The reference sets no seed at
all (its randomness is unreproducible); we upgrade to seeded while
matching its distributions exactly:

* num_items 1-3 @ .5/.3/.2 (generator:49), sampling w/o replacement
  from the 6-product catalog (generator:51) via hash-priority sort,
* quantity 1-2 @ .8/.2 (generator:54),
* discount {0,5,10} applied with p=0.2 (generator:55),
* money math = round(..., 2) → ``round2``, Python's own rounding
  (generator:57,65-66),
* shipping/tax/total (generator:70-74,83-85),
* status/payment weighted draws (generator:86-87),
* order_date = now − randint(0,7) days (generator:88).
"""

from __future__ import annotations

import datetime as _dt
import string

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import scalar
from ..functions.rounding import round2
from .catalog import (
    CITIES,
    EMAIL_DOMAINS,
    ORDER_STATUSES,
    PAYMENT_METHODS,
    PAYMENT_WEIGHTS,
    PRODUCTS,
    STATUS_WEIGHTS,
)

_ID_ALPHABET = list(string.ascii_uppercase + string.digits)  # generator:39
_DIGITS = list(string.digits)
_HASH_RANGE = 1_000_000_000


def _u(seed: int, tag: str, *cols: Column) -> Column:
    """Deterministic uniform [0,1) keyed by (seed, tag, row id):
    partition-layout independent, unlike F.rand(seed)."""
    h = F.xxhash64(F.lit(seed), F.lit(tag), *cols)
    return F.pmod(h, F.lit(_HASH_RANGE)).cast("double") / _HASH_RANGE


def _weighted(u: Column, values: list, weights: list[float]) -> Column:
    """Inverse-CDF categorical draw (reference random.choices, F18)."""
    expr = None
    acc = 0.0
    for v, w in zip(values[:-1], weights[:-1]):
        acc += w
        expr = F.when(u < acc, F.lit(v)) if expr is None else expr.when(u < acc, F.lit(v))
    return expr.otherwise(F.lit(values[-1]))


def _hash_chars(seed: int, tag: str, id_col: Column, alphabet: list[str], k: int) -> Column:
    """k pseudo-random chars from alphabet, one hash draw per position."""
    arr = F.array(*[F.lit(c) for c in alphabet])
    chars = [
        F.element_at(
            arr,
            (F.pmod(F.xxhash64(F.lit(seed), F.lit(f"{tag}{i}"), id_col), F.lit(len(alphabet))) + 1).cast(
                "int"
            ),
        )
        for i in range(k)
    ]
    return F.concat(*chars)


def generate_orders(
    spark: SparkSession,
    n: int,
    seed: int = 42,
    now: _dt.datetime | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Synthesize ``n`` raw orders as a DataFrame in RAW_ORDER_SCHEMA
    shape. ``now`` pins the clock for reproducibility (the reference
    uses wall-clock utcnow, generator:88,106,112)."""
    now = now or _dt.datetime.now(_dt.timezone.utc)
    now_lit = F.lit(now.strftime("%Y-%m-%d %H:%M:%S.%f")).cast("timestamp")
    now_iso = now.isoformat()

    base = spark.range(0, n, 1, num_partitions) if num_partitions else spark.range(n)
    oid = F.col("id")

    # --- identities (generator:38-46, F15/F16) -------------------------
    order_id = F.concat(
        F.lit("ORD-"),
        F.lit(now.strftime("%Y%m%d")),
        F.lit("-"),
        _hash_chars(seed, "oid", oid, _ID_ALPHABET, 8),
    )
    cust_digits = _hash_chars(seed, "cust", oid, _DIGITS, 8)
    customer_id = F.concat(F.lit("CUST-"), cust_digits)
    customer_email = F.concat(
        F.lit("customer"),
        cust_digits,
        F.lit("@"),
        _weighted(_u(seed, "dom", oid), EMAIL_DOMAINS, [0.5, 0.5]),
    )

    # --- items: sample w/o replacement via hash-priority sort ----------
    # (generator:48-68, F18/F19/F21) Each product gets a per-order hash
    # priority; array_sort on the leading struct field emulates
    # random.sample. Per-item draws are keyed by (order, product).
    num_items = _weighted(_u(seed, "nit", oid), [1, 2, 3], [0.5, 0.3, 0.2]).cast("int")
    prioritized = F.array(
        *[
            F.struct(
                F.xxhash64(F.lit(seed), F.lit("prio"), oid, F.lit(pid)).alias("pri"),
                F.lit(pid).alias("product_id"),
                F.lit(name).alias("product_name"),
                F.lit(cat).alias("category"),
                F.lit(price).alias("unit_price"),
            )
            for pid, name, cat, _grp, price in PRODUCTS
        ]
    )
    selected = F.slice(F.array_sort(prioritized), 1, num_items)

    def _mk_item(p: Column) -> Column:
        uc = F.pmod(F.xxhash64(F.lit(seed), F.lit("dch"), oid, p["product_id"]), F.lit(3))
        quantity = F.when(_u(seed, "qty", oid, p["product_id"]) < 0.8, F.lit(1)).otherwise(F.lit(2))
        pct = F.when(
            _u(seed, "dap", oid, p["product_id"]) < 0.2,
            F.when(uc == 0, 0).when(uc == 1, 5).otherwise(10),
        ).otherwise(F.lit(0))
        disc_unit = round2(p["unit_price"] * (pct.cast("double") / 100))
        return F.struct(
            p["product_id"].alias("product_id"),
            p["product_name"].alias("product_name"),
            p["category"].alias("category"),
            quantity.cast("int").alias("quantity"),
            p["unit_price"].alias("unit_price"),
            pct.cast("int").alias("discount_percentage"),
            round2(disc_unit * quantity).alias("discount_amount"),
            round2((p["unit_price"] - disc_unit) * quantity).alias("subtotal"),
        )

    # a column of its own, so that the sums below read it instead of
    # each re-running the per-item draws
    base = base.withColumn("items", F.transform(selected, _mk_item))

    # --- order-level money math (generator:79-85, A1/F13/F14) ----------
    subtotal = F.aggregate("items", F.lit(0.0), lambda a, x: a + x["subtotal"])
    total_discount = F.aggregate("items", F.lit(0.0), lambda a, x: a + x["discount_amount"])
    city = _weighted(_u(seed, "city", oid), CITIES, [0.2] * 5)
    shipping = scalar.shipping_cost(subtotal, city)
    tax_amount = scalar.tax_amount(subtotal, shipping)
    total_amount = round2(subtotal + shipping + tax_amount)

    # --- temporal (generator:88,91,106, F20) ---------------------------
    jitter_days = F.floor(_u(seed, "day", oid) * 8).cast("int")  # randint(0,7)
    order_ts = now_lit - F.make_interval(days=jitter_days)
    order_date = F.concat(F.date_format(order_ts, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"), F.lit("+00:00"))

    return base.select(
        order_id.alias("order_id"),
        order_date.alias("order_date"),
        customer_id.alias("customer_id"),
        customer_email.alias("customer_email"),
        city.alias("customer_city"),
        "items",
        F.size("items").alias("num_items"),
        F.aggregate("items", F.lit(0), lambda a, x: a + x["quantity"]).alias("total_quantity"),
        subtotal.alias("subtotal"),
        total_discount.alias("total_discount"),
        shipping.alias("shipping_cost"),
        F.lit(0.20).alias("tax_rate"),
        tax_amount.alias("tax_amount"),
        total_amount.alias("total_amount"),
        _weighted(_u(seed, "pay", oid), PAYMENT_METHODS, PAYMENT_WEIGHTS).alias("payment_method"),
        _weighted(_u(seed, "sta", oid), ORDER_STATUSES, STATUS_WEIGHTS).alias("status"),
        F.lit(now_iso).alias("created_at"),
    )


def batch_stats(orders: DataFrame) -> DataFrame:
    """Per-batch stats the reference returns from its handler
    (generator:116-121, A5)."""
    return orders.agg(
        F.count("*").alias("total_orders"),
        round2(F.sum("total_amount")).alias("total_revenue"),
        round2(F.sum("total_amount") / F.count("*")).alias("average_order_value"),
    )
