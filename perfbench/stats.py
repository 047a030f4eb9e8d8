"""Order statistics for the benchmark's reported timings."""

from __future__ import annotations

import math
import statistics

# a tail percentile is reported only when at least this many samples
# lie beyond it, so one slow outlier cannot be the reported value
MIN_BEYOND = 10


def _rank(n: int, p: float) -> int:
    # the epsilon keeps float error in p/100*n from adding a rank
    # (99.9% of 10 000 must be rank 9990, not 9991)
    return max(1, math.ceil(p * n / 100 - 1e-9))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``p`` percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < p <= 100:
        raise ValueError(f"percentile {p} outside (0, 100]")
    ordered = sorted(values)
    return ordered[_rank(len(ordered), p) - 1]


def samples_beyond(n: int, p: float) -> int:
    """Samples strictly above the nearest-rank ``p`` percentile of n."""
    return n - _rank(n, p)


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median — the stability
    figure the benchmark's bounds are compared against."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
