"""Aggregation rules shared by the benchmark and its spread check."""

from __future__ import annotations

import math
import statistics

# A reported tail percentile must leave at least this many samples beyond it.
MIN_TAIL_SAMPLES = 10


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail_percentile(values: list[float], q: float, min_tail: int = MIN_TAIL_SAMPLES) -> float | None:
    """The ``q`` quantile (0 < q < 1, nearest-rank) of ``values``, or
    ``None`` when fewer than ``min_tail`` samples lie strictly beyond its
    rank, so a reported p90 is never decided by a handful of operations."""
    n = len(values)
    if n == 0:
        return None
    rank = math.ceil(q * n)  # 1-based nearest rank
    if n - rank < min_tail:
        return None
    return float(sorted(values)[rank - 1])


def min_samples_for(q: float, min_tail: int = MIN_TAIL_SAMPLES) -> int:
    """Smallest sample count for which :func:`tail_percentile` reports."""
    n = 1
    while n - math.ceil(q * n) < min_tail:
        n += 1
    return n


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, quartiles as ``statistics.quantiles(n=4)``."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")
