"""Latency summaries: the median and the tail percentile rule."""

from __future__ import annotations

import math

#: a tail percentile must leave at least this many ops beyond it
TAIL_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest value with at least ``p``
    percent of the values at or below it."""
    if not values:
        raise ValueError("percentile of no values")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100 * len(ordered)))
    return ordered[rank - 1]


def tail_percentile(n: int) -> int:
    """The highest whole percentile, from the median up, that leaves at
    least ``TAIL_BEYOND`` of ``n`` ops strictly beyond its nearest rank;
    50 when none does."""
    best = 50
    for p in range(51, 100):
        if n - math.ceil(p / 100 * n) >= TAIL_BEYOND:
            best = p
    return best


def tail(values: list[float]) -> tuple[float, str]:
    """``op_tail_s`` and its name. Below ``2 * TAIL_BEYOND`` ops no
    percentile from the median up has ten ops beyond it, and the value is
    the median."""
    n = len(values)
    p = tail_percentile(n)
    if n - math.ceil(p / 100 * n) < TAIL_BEYOND:
        return median(values), (
            f"median of {n} ops: fewer than {TAIL_BEYOND} ops beyond any higher percentile")
    return percentile(values, p), f"p{p} of {n} ops"


def median(values: list[float]) -> float:
    ordered = sorted(values)
    mid = len(ordered) // 2
    if len(ordered) % 2:
        return ordered[mid]
    return (ordered[mid - 1] + ordered[mid]) / 2
