"""Order statistics the benchmark reports."""

from __future__ import annotations

import statistics

# Tail percentiles tried, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def median(values: list[float]) -> float:
    return statistics.median(values)


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) exactly as ``statistics.quantiles(n=4)`` gives
    them; a single value is its own quartiles."""
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def nearest_rank(values: list[float], pct: float) -> float:
    """Smallest sample with at least ``pct`` percent of samples at or below it."""
    ordered = sorted(values)
    rank = max(1, -(-len(ordered) * pct // 100))
    return ordered[int(rank) - 1]


def tail(values: list[float]) -> tuple[float, float, int] | None:
    """(percentile, value, samples beyond) for the highest percentile
    of TAIL_LADDER that leaves at least MIN_BEYOND samples above it, or
    None when even the median leaves fewer."""
    for pct in TAIL_LADDER:
        value = nearest_rank(values, pct)
        beyond = sum(1 for v in values if v > value)
        if beyond >= MIN_BEYOND:
            return pct, value, beyond
    return None


def slope(xs: list[float], ys: list[float]) -> float:
    """Least-squares slope of ys over xs (0 for fewer than two points)."""
    if len(xs) < 2:
        return 0.0
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    den = sum((x - mx) ** 2 for x in xs)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / den if den else 0.0
