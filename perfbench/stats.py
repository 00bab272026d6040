"""Summary statistics the benchmark reports.

Timings are reported as a median plus the highest percentile that still
has at least ``MIN_BEYOND`` samples above it; with fewer samples that
percentile is simply not reported rather than read off one or two values.
"""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10
PERCENTILES = (99.9, 99.0, 95.0, 90.0)


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return float(ordered[rank - 1])


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank ``p`` percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def reportable(n: int, p: float) -> bool:
    """True when the ``p`` percentile of ``n`` samples has at least
    MIN_BEYOND samples beyond it."""
    return samples_beyond(n, p) >= MIN_BEYOND


def tail(values: list[float]) -> tuple[float, float] | None:
    """(p, value) for the highest reportable percentile, or None."""
    for p in PERCENTILES:
        if reportable(len(values), p):
            return p, percentile(values, p)
    return None
