"""Summary statistics for timing samples."""

from __future__ import annotations

import math


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated ``p``-th percentile (0-100) of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n: int, min_beyond: int = 10) -> int | None:
    """The highest whole percentile that has at least ``min_beyond`` of
    ``n`` samples beyond it, or None when even the median has fewer."""
    if n <= 0:
        return None
    p = math.floor(100.0 * (1.0 - min_beyond / n) + 1e-9)
    return p if p >= 50 else None

