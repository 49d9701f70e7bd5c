"""Order statistics used by every workload.

A tail percentile is only claimed when at least ``MIN_BEYOND`` samples lie
above it; :func:`min_samples_for` gives the sample size that needs.
"""

from __future__ import annotations

import math

MIN_BEYOND = 10


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``pct``
    per cent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0.0 < pct <= 100.0:
        raise ValueError(f"percentile must be in (0, 100], got {pct}")
    ordered = sorted(values)
    rank = math.ceil(pct / 100.0 * len(ordered))
    return ordered[max(rank, 1) - 1]


def median(values: list[float]) -> float:
    """Midpoint median (the mean of the two middle samples when even)."""
    if not values:
        raise ValueError("median of an empty sample")
    ordered = sorted(values)
    mid = len(ordered) // 2
    if len(ordered) % 2:
        return ordered[mid]
    return (ordered[mid - 1] + ordered[mid]) / 2.0


def samples_beyond(n: int, pct: float) -> int:
    """Samples strictly above the nearest-rank ``pct`` percentile of ``n``."""
    return n - max(math.ceil(pct / 100.0 * n), 1)


def min_samples_for(pct: float, min_beyond: int = MIN_BEYOND) -> int:
    """Smallest sample size whose ``pct`` percentile has ``min_beyond``
    samples beyond it."""
    n = 1
    while samples_beyond(n, pct) < min_beyond:
        n += 1
    return n
