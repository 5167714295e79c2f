"""Summary statistics shared by every workload."""

from __future__ import annotations

import math
import statistics

TAIL_BEYOND = 10


def tail_percentile(n: int, beyond: int = TAIL_BEYOND) -> int:
    """Highest whole percentile of ``n`` samples with at least ``beyond``
    samples ranked above it (nearest-rank definition). With ``n <= beyond``
    no percentile qualifies and the maximum (percentile 100) is used."""
    if n <= beyond:
        return 100
    return (100 * (n - beyond)) // n


def percentile_value(values: list[float], p: int) -> float:
    """Nearest-rank percentile: the ``ceil(p/100 * n)``-th smallest value."""
    xs = sorted(values)
    rank = max(1, math.ceil(p * len(xs) / 100))
    return xs[rank - 1]


def tail(values: list[float]) -> tuple[float, int, int]:
    """(value, percentile, sample count) of the tail rule."""
    p = tail_percentile(len(values))
    return percentile_value(values, p), p, len(values)


def geomean(values: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


def median(values: list[float]) -> float:
    return statistics.median(values)
