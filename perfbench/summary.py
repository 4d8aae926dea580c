"""Order statistics used to report a run: medians, quartiles and a tail
percentile that is only given when enough samples lie beyond it."""

from __future__ import annotations

import math
import statistics
from typing import Sequence

# a tail percentile is a tail only when this many samples lie beyond it
MIN_BEYOND = 10
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0)


def median(xs: Sequence[float]) -> float:
    """Middle value; an even count averages the two middle values."""
    if not xs:
        raise ValueError("median of no samples")
    s = sorted(xs)
    n = len(s)
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2


def quartiles(xs: Sequence[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(xs, n=4)`` gives them."""
    if len(xs) < 2:
        v = float(xs[0])
        return v, v, v
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def iqr_share(xs: Sequence[float]) -> float:
    """Distance between the quartiles as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else math.inf


def tail_percentile(xs: Sequence[float]) -> tuple[float, float] | None:
    """(p, value) for the highest of TAIL_PERCENTILES that has at least
    MIN_BEYOND samples strictly above it, or None when no percentile does."""
    s = sorted(xs)
    n = len(s)
    for p in TAIL_PERCENTILES:
        # nearest-rank percentile
        v = s[max(0, math.ceil(p / 100 * n) - 1)] if n else 0.0
        if sum(1 for x in s if x > v) >= MIN_BEYOND:
            return p, v
    return None
