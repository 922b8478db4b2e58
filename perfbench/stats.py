"""Order statistics for pass and batch timings.

A tail percentile is only reported when at least ``MIN_BEYOND`` samples
lie beyond it; with fewer, one slow sample would be the whole tail.
"""

from __future__ import annotations

import math

MIN_BEYOND = 10


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolation quantile (numpy's default), 0 <= q <= 1."""
    if not values:
        raise ValueError("quantile of an empty sample")
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"q must be in [0, 1], got {q}")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return quantile(values, 0.5)


def tail_percentile(n: int, min_beyond: int = MIN_BEYOND) -> int | None:
    """Highest whole percentile p (50 <= p < 100) with at least
    ``min_beyond`` of ``n`` samples strictly above rank p/100 * n, or
    None when even the median has fewer than that beyond it."""
    best = None
    for p in range(50, 100):
        beyond = n - math.ceil(p / 100 * n)
        if beyond >= min_beyond:
            best = p
    return best


def summary(values: list[float]) -> dict:
    """Median, the qualifying tail percentile (if any) and sample count."""
    out = {"n": len(values), "p50": median(values), "samples": [round(v, 4) for v in values]}
    p = tail_percentile(len(values))
    if p is not None and p > 50:
        out[f"p{p}"] = quantile(values, p / 100)
    return out
