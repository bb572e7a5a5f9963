"""The synthesizer is deterministic per seed and injects exactly the
stated malformed and invalid counts."""

from __future__ import annotations

import json
from decimal import Decimal

from perfbench import synth


def _violations(o: dict) -> int:
    """How many of the processor's four validation rules an order breaks."""
    items = o.get("items") or []
    return sum(
        [
            (o.get("total_amount") or 0.0) <= 0,
            not o.get("order_id"),
            len(items) == 0,
            abs(sum(i["subtotal"] for i in items) - (o.get("subtotal") or 0.0)) > 0.01,
        ]
    )


def _parsed(f: synth.OrderFile) -> tuple[list[dict], int]:
    orders, malformed = [], 0
    for line in f.lines:
        try:
            orders.append(json.loads(line))
        except json.JSONDecodeError:
            malformed += 1
    return orders, malformed


def test_orders_same_seed_same_file():
    a, b = synth.order_file(7, 3, 500), synth.order_file(7, 3, 500)
    assert a.lines == b.lines and a.by_city == b.by_city
    assert synth.order_file(8, 3, 500).lines != a.lines
    assert synth.order_file(7, 4, 500).lines != a.lines


def test_orders_inject_exact_counts():
    n = 2000
    f = synth.order_file(11, 0, n)
    orders, malformed = _parsed(f)
    assert f.n_lines == n
    assert malformed == f.n_malformed == round(n * synth.MALFORMED_SHARE)
    invalid = [o for o in orders if _violations(o)]
    assert len(invalid) == f.n_invalid == round(n * synth.INVALID_SHARE)
    assert all(_violations(o) >= 1 for o in invalid)
    valid = [o for o in orders if not _violations(o)]
    assert len(valid) == f.n_valid == n - f.n_malformed - f.n_invalid


def test_orders_expected_sums_cover_valid_orders():
    f = synth.order_file(5, 2, 1000)
    valid = [o for o in _parsed(f)[0] if not _violations(o)]
    assert sum(c for c, _ in f.by_city.values()) == len(valid)
    assert abs(sum(s for _, s in f.by_city.values()) - sum(o["total_amount"] for o in valid)) < 1e-6


def test_events_totals_match_lines():
    lines, totals = synth.event_lines(3, 1, 400)
    assert (lines, totals) == synth.event_lines(3, 1, 400)
    rows = [json.loads(x) for x in lines]
    assert len(rows) == 400
    assert sum(totals.values()) == Decimal(sum(round(r["value"] * 100) for r in rows)) / 100
    assert {k[0] for k in totals} <= set(synth.EVENT_TYPES)


def test_corpus_deterministic():
    c = synth.curation_tables(2)
    assert c["documents"].equals(synth.curation_tables(2)["documents"])
    assert not c["documents"].equals(synth.curation_tables(3)["documents"])
    texts = c["documents"].column("text").to_pylist()
    assert sum(t.endswith(" dup") for t in texts) == int(synth.N_DOCS * synth.DUP_SHARE)
