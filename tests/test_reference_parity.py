"""Golden parity: our Spark enrichment must reproduce the reference's
``process_order`` bit-for-bit (modulo the processed_at audit stamp —
SURVEY §7.4-4) on generated orders AND hand-built boundary fixtures."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from e_commerce_data_engineering_spark.functions.enrich import enrich
from e_commerce_data_engineering_spark.functions.validate import split_valid
from e_commerce_data_engineering_spark.schemas import RAW_ORDER_SCHEMA
from e_commerce_data_engineering_spark.sources.generator import generate_orders

from .ref_loader import load_reference_processor

SKIP_FIELDS = {"processed_at"}  # batch-constant in Spark vs per-row (SURVEY §7.4-4)


@pytest.fixture(scope="module")
def ref():
    """The reference processor module, loaded only by the tests that
    compare against it."""
    return load_reference_processor()


def _mk_order(
    order_id="ORD-20260101-ABCD1234",
    total_amount=250.0,
    total_quantity=2,
    city="Paris",
    status="pending",
    subtotal=None,
    items=None,
    **overrides,
):
    """Minimal consistent raw order; validation only cross-checks
    subtotal vs Σ items.subtotal, so total_amount is free to pin at
    classification boundaries (FIXTURES.md edge list)."""
    if items is None:
        items = [
            {
                "product_id": "ELEC002",
                "product_name": "Samsung Galaxy S24",
                "category": "Smartphones",
                "quantity": total_quantity,
                "unit_price": 999.99,
                "discount_percentage": 5,
                "discount_amount": round(round(999.99 * 0.05, 2) * total_quantity, 2),
                "subtotal": round((999.99 - round(999.99 * 0.05, 2)) * total_quantity, 2),
            }
        ]
    if subtotal is None:
        subtotal = round(sum(i["subtotal"] for i in items), 10)
    order = {
        "order_id": order_id,
        "order_date": "2026-08-08T14:30:00.123456+00:00",
        "customer_id": "CUST-12345678",
        "customer_email": "customer12345678@gmail.com",
        "customer_city": city,
        "items": items,
        "num_items": len(items),
        "total_quantity": total_quantity,
        "subtotal": subtotal,
        "total_discount": round(sum(i["discount_amount"] for i in items), 10),
        "shipping_cost": 0.0 if subtotal >= 100 else (4.99 if city in ("Paris", "Lyon", "Marseille") else 7.99),
        "tax_rate": 0.20,
        "tax_amount": round(subtotal * 0.2, 2),
        "total_amount": total_amount,
        "payment_method": "credit_card",
        "status": status,
        "created_at": "2026-08-10T00:00:00+00:00",
    }
    order.update(overrides)
    return order


def boundary_fixtures():
    """FIXTURES.md §A1 edge rows: classification boundaries + weekend +
    multi-category + validation failures."""
    good = [
        _mk_order(order_id=f"ORD-B-{i:04d}", total_amount=amt)
        for i, amt in enumerate([99.99, 100.0, 499.99, 500.0, 999.99, 1000.0, 0.01, 300.0])
    ]
    good += [
        _mk_order(order_id="ORD-QTY-09", total_quantity=9),
        _mk_order(order_id="ORD-QTY-10", total_quantity=10),  # vip via bulk
        _mk_order(order_id="ORD-CITY-N", city="Nice", status="delivered", total_amount=100.0),
        _mk_order(order_id="ORD-SCORE5", city="Lyon", status="shipped", total_amount=600.0),
        _mk_order(order_id="ORD-SCORE3", city="Toulouse", status="confirmed", total_amount=80.0),
        _mk_order(order_id="ORD-WEEKEND", order_date="2026-08-09T23:59:59+00:00"),
        _mk_order(order_id="ORD-MONDAY", order_date="2026-08-10T00:00:00+00:00"),
        _mk_order(
            order_id="ORD-MULTI",
            items=[
                {
                    "product_id": "ELEC003",
                    "product_name": "MacBook Air M3",
                    "category": "Laptops",
                    "quantity": 1,
                    "unit_price": 1499.99,
                    "discount_percentage": 0,
                    "discount_amount": 0.0,
                    "subtotal": 1499.99,
                },
                {
                    "product_id": "CLOT001",
                    "product_name": "Nike Air Max Sneakers",
                    "category": "Shoes",
                    "quantity": 2,
                    "unit_price": 129.99,
                    "discount_percentage": 10,
                    "discount_amount": 26.0,
                    "subtotal": 233.98,
                },
                {
                    "product_id": "CLOT002",
                    "product_name": "Adidas Running Shoes",
                    "category": "Shoes",
                    "quantity": 1,
                    "unit_price": 119.99,
                    "discount_percentage": 0,
                    "discount_amount": 0.0,
                    "subtotal": 119.99,
                },
            ],
        ),
    ]
    bad = [
        _mk_order(order_id="ORD-BAD-TOTAL", total_amount=0.0),
        _mk_order(order_id="ORD-BAD-NEG", total_amount=-5.0),
        _mk_order(order_id="", total_amount=50.0),
        _mk_order(order_id="ORD-BAD-ITEMS", items=[], subtotal=0.0),
        _mk_order(order_id="ORD-BAD-SUBTOTAL", subtotal=123.45),
    ]
    return good, bad


def _close(a, b, path):
    if isinstance(a, float) or isinstance(b, float):
        assert a is not None and b is not None, f"{path}: {a!r} vs {b!r}"
        # repr is unique per double: bit-exact, the sign of zero included
        assert repr(float(a)) == repr(float(b)), f"{path}: {a!r} != {b!r}"
    elif isinstance(a, dict):
        assert isinstance(b, dict) and set(a) == set(b), f"{path}: keys {set(a)} vs {set(b)}"
        for k in a:
            _close(a[k], b[k], f"{path}.{k}")
    elif isinstance(a, list):
        assert isinstance(b, list) and len(a) == len(b), f"{path}: len {len(a)} vs {len(b)}"
        for i, (x, y) in enumerate(zip(a, b)):
            _close(x, y, f"{path}[{i}]")
    else:
        assert a == b, f"{path}: {a!r} != {b!r}"


def _run_spark_pipeline(spark, raw_orders):
    df = spark.createDataFrame(
        spark.sparkContext.parallelize([json.dumps(o) for o in raw_orders], 4),
        "string",
    )
    parsed = spark.read.schema(RAW_ORDER_SCHEMA).json(df.rdd.map(lambda r: r[0]))
    valid, invalid = split_valid(parsed)
    out = {r["order_id"]: r.asDict(recursive=True) for r in enrich(valid).collect()}
    inv = [r.asDict(recursive=True) for r in invalid.collect()]
    return out, inv


def _assert_parity(spark, ref, raw_orders):
    ref_out = {}
    ref_invalid = 0
    for o in raw_orders:
        p = ref.process_order(json.loads(json.dumps(o)))
        if p is None:
            ref_invalid += 1
        else:
            ref_out[p["order_id"]] = p
    spark_out, spark_inv = _run_spark_pipeline(spark, raw_orders)
    assert len(spark_inv) == ref_invalid, "quarantine count != reference invalid count"
    assert set(spark_out) == set(ref_out)
    for oid, ref_row in ref_out.items():
        got = spark_out[oid]
        for field, ref_val in ref_row.items():
            if field in SKIP_FIELDS:
                continue
            _close(got[field], ref_val, f"{oid}.{field}")


def test_boundary_fixtures_parity(spark, ref):
    good, bad = boundary_fixtures()
    _assert_parity(spark, ref, good + bad)


def test_generated_orders_parity(spark, ref):
    orders_df = generate_orders(spark, 300, seed=7)
    raw = [json.loads(s) for s in orders_df.toJSON().collect()]
    assert len(raw) == 300
    _assert_parity(spark, ref, raw)


def test_generated_orders_all_valid(spark, ref):
    """Generator output must satisfy the reference's own validation."""
    good, bad = [], []
    for s in generate_orders(spark, 200, seed=11).toJSON().collect():
        (good if ref.validate_order(json.loads(s))[0] else bad).append(s)
    assert not bad, f"{len(bad)} generated orders fail reference validation"


def test_corrupt_line_handling(spark, tmp_path):
    """PERMISSIVE parse counts malformed lines like processor:176-182."""
    from e_commerce_data_engineering_spark.pipeline import process_raw, read_raw_jsonl

    good, bad = boundary_fixtures()
    p = tmp_path / "raw.jsonl"
    lines = [json.dumps(o) for o in good + bad]
    lines.insert(3, '{"order_id": broken json')
    lines.insert(7, "not json at all")
    p.write_text("\n".join(lines) + "\n")
    processed, invalid, corrupt = process_raw(read_raw_jsonl(spark, str(p)))
    assert corrupt.count() == 2
    assert invalid.count() == len(bad)
    assert processed.count() == len(good)
