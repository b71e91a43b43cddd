"""Order statistics used by every report the benchmark prints."""

from __future__ import annotations

import math
import statistics

#: a percentile is reported only when at least this many samples lie
#: beyond it; with fewer, its value is set by a handful of outliers
MIN_TAIL_SAMPLES = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) < 2:
        v = median(values)
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return float(q1), float(q2), float(q3)


def spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else math.inf


def tail_percentile(values: list[float], p: float) -> float | None:
    """The nearest-rank ``p``-th percentile, or None when fewer than
    ``MIN_TAIL_SAMPLES`` samples lie strictly beyond it."""
    if not values:
        return None
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    value = ordered[rank - 1]
    beyond = sum(1 for v in ordered if v > value)
    return float(value) if beyond >= MIN_TAIL_SAMPLES else None
