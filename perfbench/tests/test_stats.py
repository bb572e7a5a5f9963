from __future__ import annotations

import random
import statistics

from perfbench import stats
from perfbench.trace import Tracer


def test_tail_leaves_ten_beyond():
    rng = random.Random(0)
    for n in (20, 21, 39, 40, 41, 99, 100, 101, 250, 1000, 5000):
        values = [rng.random() for _ in range(n)]
        pct, value, beyond = stats.tail(values)
        assert beyond == sum(v > value for v in values) >= stats.MIN_BEYOND
        higher = [p for p in stats.TAIL_LADDER if p > pct]
        # no higher percentile of the ladder would still leave ten beyond
        for p in higher:
            assert sum(v > stats.nearest_rank(values, p) for v in values) < stats.MIN_BEYOND


def test_tail_undefined_below_twenty():
    assert stats.tail([1.0] * 19) is None
    assert stats.tail(list(range(19))) is None
    assert stats.tail(list(range(20)))[0] == 50.0


def test_quartiles_match_statistics():
    values = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.0, 6.0, 5.5, 3.5]
    q1, med, q3 = stats.quartiles(values)
    assert [q1, med, q3] == statistics.quantiles(values, n=4)
    assert stats.quartiles([2.5]) == (2.5, 2.5, 2.5)


def test_self_time_subtracts_children():
    tr = Tracer(True)
    tr.new_run()
    with tr.span("op") as op:
        with tr.span("child") as child:
            pass
    times = tr.self_times()
    assert abs(times["op"] + times["child"] - (op.end - op.start)) < 1e-9
    assert abs(times["child"] - (child.end - child.start)) < 1e-9
    assert tr.spans[1].parent_id == op.span_id and tr.spans[1].run_id == op.run_id


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("op"):
        pass
    assert tr.spans == []
