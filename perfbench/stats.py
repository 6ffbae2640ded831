"""Order statistics used by the report."""

from __future__ import annotations

import math

TAIL_MIN_BEYOND = 10


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile of ``values`` (0 <= q <= 1)."""
    if not values:
        raise ValueError("quantile of an empty sample")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return quantile(values, 0.5)


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail(values: list[float]) -> tuple[int, float] | None:
    """The highest whole percentile with at least ``TAIL_MIN_BEYOND``
    samples above it, as ``(percentile, value)``; ``None`` when the
    sample is too small for any percentile from p50 up to qualify."""
    n = len(values)
    p = math.floor(100 * (n - TAIL_MIN_BEYOND) / n) if n else 0
    if p < 50:
        return None
    return p, quantile(values, p / 100)
