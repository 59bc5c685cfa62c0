"""Order statistics for benchmark samples.

A timing is reported as its median and the highest percentile that has
at least ten samples beyond it; `supported_percentile` picks that
percentile from a fixed ladder so the metric's meaning does not drift
with small changes in sample count.
"""

from __future__ import annotations

import math
import statistics

PERCENTILE_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def supported_percentile(n: int) -> float | None:
    """Highest ladder percentile p with at least `MIN_BEYOND` of `n`
    samples strictly above the p-th sample, or None when even the
    median lacks that support."""
    best = None
    for p in PERCENTILE_LADDER:
        if n - nearest_rank(n, p) >= MIN_BEYOND:
            best = p
    return best


def nearest_rank(n: int, p: float) -> int:
    """1-based nearest-rank index of the p-th percentile of n samples."""
    if n <= 0:
        raise ValueError("no samples")
    # round first: 99.9 / 100 * 10000 is 9990.000000000002 in floating point
    return min(n, max(1, math.ceil(round(p / 100.0 * n, 9))))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank p-th percentile (p=50 gives the lower median)."""
    ordered = sorted(values)
    return ordered[nearest_rank(len(ordered), p) - 1]


def median(values: list[float]) -> float:
    return statistics.median(values)
