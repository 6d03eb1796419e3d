"""Summary statistics for benchmark samples."""

from __future__ import annotations


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (the 'inclusive' method:
    ``percentile(v, 50)`` is the median, 0 the min, 100 the max)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def summarize(values: list[float]) -> dict:
    """Sample count and median."""
    return {"n": len(values), "median": percentile(values, 50)}
