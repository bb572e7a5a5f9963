"""Seeded input synthesis for the benchmark.

Everything the program under test reads is made here, from the seed
alone, with numpy and pyarrow; nothing is imported from the program, so
a change to the program cannot change what it is fed. Each synthesizer
also returns what a correct program must answer (row counts, injected
malformed and invalid counts, per-key sums), which the workloads check
outputs against.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass, field
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Reference order generator's catalog and value domains (FIXTURES.md A1).
PRODUCTS = [
    ("ELEC001", "iPhone 15 Pro", "Smartphones", 1199.99),
    ("ELEC002", "Samsung Galaxy S24", "Smartphones", 999.99),
    ("ELEC003", "MacBook Air M3", "Laptops", 1499.99),
    ("ELEC004", "Dell XPS 15", "Laptops", 1299.99),
    ("CLOT001", "Nike Air Max Sneakers", "Shoes", 129.99),
    ("CLOT002", "Adidas Running Shoes", "Shoes", 119.99),
]
CITIES = ["Paris", "Lyon", "Marseille", "Toulouse", "Nice"]
MAJOR_CITIES = {"Paris", "Lyon", "Marseille"}
PAYMENTS = (["credit_card", "paypal", "apple_pay"], [0.7, 0.2, 0.1])
STATUSES = (["pending", "confirmed", "shipped", "delivered", "cancelled"], [0.15, 0.4, 0.25, 0.15, 0.05])
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

# Shares of each raw order file that are broken on purpose, so the
# quarantine and corrupt-line paths run on every arrival.
MALFORMED_SHARE = 0.01
INVALID_SHARE = 0.02

_ALNUM = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"))


def rng_for(seed: int, *tags: str) -> np.random.Generator:
    """Independent stream per (seed, tag...): adding a table or a field
    never shifts the draws of another."""
    words = [seed] + [int.from_bytes(t.encode()[:8].ljust(8, b"\0"), "little") for t in tags]
    return np.random.default_rng(np.random.SeedSequence(words))


def _r2(x: float) -> float:
    return round(x + 0.0, 2)


# ---------------------------------------------------------------- orders


@dataclass
class OrderFile:
    """One raw JSONL file and the answers a correct processor gives."""

    lines: list[str]
    n_valid: int
    n_invalid: int
    n_malformed: int
    # customer_city -> (count, sum of total_amount) over valid orders
    by_city: dict[str, tuple[int, float]] = field(default_factory=dict)

    @property
    def n_lines(self) -> int:
        return len(self.lines)


def _orders(rng: np.random.Generator, ts: dt.datetime, n: int) -> list[dict]:
    """``n`` valid orders; every draw is made up front, vectorized."""
    n_items = rng.choice([1, 2, 3], n, p=[0.5, 0.3, 0.2])
    prio = rng.random((n, len(PRODUCTS))).argsort(axis=1)
    qty = np.where(rng.random((n, 3)) < 0.8, 1, 2)
    pct = np.where(rng.random((n, 3)) < 0.2, rng.choice([0, 5, 10], (n, 3)), 0)
    city = rng.integers(0, len(CITIES), n)
    digits = rng.integers(0, 10, (n, 8))
    ids = rng.choice(_ALNUM, (n, 8))
    gmail = rng.random(n) < 0.5
    back = rng.integers(0, 8 * 86400, n)
    pay = rng.choice(PAYMENTS[0], n, p=PAYMENTS[1])
    status = rng.choice(STATUSES[0], n, p=STATUSES[1])
    created = ts.isoformat() + "+00:00"
    out = []
    for o in range(n):
        items = []
        for j, k in enumerate(prio[o, : n_items[o]]):
            pid, name, cat, price = PRODUCTS[k]
            q, p = int(qty[o, j]), int(pct[o, j])
            disc_unit = _r2(price * p / 100)
            items.append(
                {
                    "product_id": pid,
                    "product_name": name,
                    "category": cat,
                    "quantity": q,
                    "unit_price": price,
                    "discount_percentage": p,
                    "discount_amount": _r2(disc_unit * q),
                    "subtotal": _r2((price - disc_unit) * q),
                }
            )
        subtotal = _r2(sum(i["subtotal"] for i in items))
        c = CITIES[city[o]]
        shipping = 0.0 if subtotal >= 100 else (4.99 if c in MAJOR_CITIES else 7.99)
        tax = _r2((subtotal + shipping) * 0.20)
        d = "".join(map(str, digits[o]))
        out.append(
            {
                "order_id": f"ORD-{ts:%Y%m%d}-" + "".join(ids[o]),
                "order_date": (ts - dt.timedelta(seconds=int(back[o]))).isoformat() + "+00:00",
                "customer_id": f"CUST-{d}",
                "customer_email": f"customer{d}@" + ("gmail.com" if gmail[o] else "yahoo.fr"),
                "customer_city": c,
                "items": items,
                "num_items": len(items),
                "total_quantity": sum(i["quantity"] for i in items),
                "subtotal": subtotal,
                "total_discount": _r2(sum(i["discount_amount"] for i in items)),
                "shipping_cost": shipping,
                "tax_rate": 0.20,
                "tax_amount": tax,
                "total_amount": _r2(subtotal + shipping + tax),
                "payment_method": str(pay[o]),
                "status": str(status[o]),
                "created_at": created,
            }
        )
    return out


def _break(order: dict, rule: int) -> None:
    """Violate exactly one of the processor's four validation rules."""
    if rule == 0:
        order["total_amount"] = -abs(order["total_amount"])
    elif rule == 1:
        order["order_id"] = ""
    elif rule == 2:
        order["items"] = []
        order["num_items"] = 0
    else:
        order["subtotal"] = _r2(order["subtotal"] + 5.0)


def order_file(seed: int, index: int, n: int) -> OrderFile:
    """``n`` raw order lines in the reference generator's shape, of
    which ``round(n * INVALID_SHARE)`` break one validation rule and
    ``round(n * MALFORMED_SHARE)`` are truncated, unparseable JSON."""
    rng = rng_for(seed, "orders", str(index))
    ts = dt.datetime(2026, 1, 1) + dt.timedelta(hours=index)
    n_malformed = round(n * MALFORMED_SHARE)
    n_invalid = round(n * INVALID_SHARE)
    orders = _orders(rng, ts, n - n_malformed)
    picks = rng.permutation(len(orders))
    for j, k in enumerate(picks[:n_invalid]):
        _break(orders[k], j % 4)
    invalid = set(int(k) for k in picks[:n_invalid])
    lines = [json.dumps(o, separators=(",", ":")) for o in orders]
    for k in picks[n_invalid : n_invalid + n_malformed]:
        # a truncated copy of another line: the PERMISSIVE reader must
        # route it to _corrupt_record
        lines.append(lines[k][: len(lines[k]) // 2])
    lines = [lines[k] for k in rng.permutation(len(lines))]
    out = OrderFile(lines, len(orders) - n_invalid, n_invalid, n_malformed)
    for k, o in enumerate(orders):
        if k in invalid:
            continue
        c, s = out.by_city.get(o["customer_city"], (0, 0.0))
        out.by_city[o["customer_city"]] = (c + 1, s + o["total_amount"])
    return out


# ---------------------------------------------------------------- events


def event_lines(seed: int, index: int, n: int) -> tuple[list[str], dict[tuple[str, str], Decimal]]:
    """``n`` click-stream events as JSONL plus the exact per (event_type,
    day) value totals. Each file covers the next three days, so the
    daily state keeps growing with every arrival."""
    rng = rng_for(seed, "events", str(index))
    start = dt.datetime(2026, 1, 1) + dt.timedelta(days=3 * index)
    secs = np.sort(rng.integers(0, 3 * 86400, n))
    types = rng.integers(0, len(EVENT_TYPES), n)
    cents = rng.integers(1, 50000, n)
    users = rng.integers(0, 1500, n)
    lines, totals = [], {}
    for i in range(n):
        ts = start + dt.timedelta(seconds=int(secs[i]))
        et = EVENT_TYPES[types[i]]
        value = Decimal(int(cents[i])) / 100
        lines.append(
            json.dumps(
                {
                    "event_id": index * n + i,
                    "ts": ts.strftime("%Y-%m-%dT%H:%M:%S"),
                    "user_id": int(users[i]),
                    "event_type": et,
                    "value": float(value),
                }
            )
        )
        key = (et, ts.strftime("%Y-%m-%d"))
        totals[key] = totals.get(key, Decimal(0)) + value
    return lines, totals


# ------------------------------------------------------- curation corpus

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
N_DOCS = 500
DUP_SHARE = 0.05


def curation_tables(seed: int) -> dict[str, pa.Table]:
    """500 short documents over a 30-word vocabulary, of which exactly 5%
    are another document's text plus a ``dup`` token: the near
    duplicates the dedup queries hunt."""
    r = rng_for(seed, "documents")
    # every seed gets the same multiset of lengths (10..99 tokens), so
    # seeds change which documents overlap, not how much text there is
    lengths = r.permutation(10 + np.arange(N_DOCS) % 90)
    texts = [" ".join(r.choice(VOCAB, n)) for n in lengths]
    order = r.permutation(N_DOCS)
    n_dup = int(N_DOCS * DUP_SHARE)
    for j, src in zip(order[:n_dup], r.choice(order[n_dup:], n_dup)):
        texts[j] = texts[src] + " dup"
    langs, lang_p = ["en", "de", "es", "fr", "zh"], [0.44, 0.14, 0.14, 0.14, 0.14]
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
            "text": texts,
            "lang": pa.array(np.array(langs)[r.choice(len(langs), N_DOCS, p=lang_p)]),
            "source": [f"src{i % 20}" for i in range(N_DOCS)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    return {"documents": docs}


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One ``<name>.parquet`` file per table."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
