"""Order statistics used by the runner and the seed sweep."""

from __future__ import annotations

import statistics
from collections.abc import Sequence


def median(xs: Sequence[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def percentile(xs: Sequence[float], p: float) -> float:
    """Linear-interpolated ``p``-th percentile (0 <= p <= 100), the same
    rule as numpy's default and ``statistics.quantiles(method="inclusive")``."""
    if not xs:
        raise ValueError("percentile of no samples")
    if not 0 <= p <= 100:
        raise ValueError(f"percentile {p} outside [0, 100]")
    s = sorted(xs)
    pos = (len(s) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return float(s[lo] + (s[hi] - s[lo]) * (pos - lo))


def quartiles(xs: Sequence[float]) -> tuple[float, float, float]:
    """(Q1, median, Q3) as ``statistics.quantiles(xs, n=4)`` gives them."""
    if len(xs) < 2:
        raise ValueError("quartiles need at least two samples")
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return float(q1), float(q2), float(q3)


def spread(xs: Sequence[float]) -> float:
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else float("inf")
