"""Order statistics used by the benchmark's reported metrics."""

from __future__ import annotations

import math
import statistics

#: tail percentiles tried from the top down; the first one with at
#: least ``MIN_BEYOND`` samples above it is reported
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def nearest_rank(xs: list[float], pct: float) -> tuple[float, int]:
    """Nearest-rank ``pct`` percentile of ``xs`` and the number of
    samples ranked above it."""
    s = sorted(xs)
    k = max(1, math.ceil(pct / 100.0 * len(s)))
    return s[k - 1], len(s) - k


def tail(xs: list[float]) -> tuple[float, float, int]:
    """``(value, percentile, samples_beyond)`` of the highest ladder
    percentile with at least ``MIN_BEYOND`` samples beyond it.

    With fewer than ``2 * MIN_BEYOND`` samples no percentile qualifies;
    the maximum is returned with percentile 100 and 0 samples beyond,
    so a caller can see the tail is only the worst op seen."""
    for pct in TAIL_LADDER:
        v, beyond = nearest_rank(xs, pct)
        if beyond >= MIN_BEYOND:
            return v, pct, beyond
    return max(xs), 100.0, 0

