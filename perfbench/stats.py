"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics

#: a percentile is reported only when at least this many samples lie
#: beyond it, so that it is not set by one or two slow outliers
MIN_BEYOND = 10


def median(xs) -> float:
    return float(statistics.median(xs))


def percentile(xs, q: float) -> float:
    """Linear-interpolated ``q``-quantile (0 <= q <= 1), numpy's default."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return float(s[lo] + (s[hi] - s[lo]) * (pos - lo))


def beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie strictly above the ``q``-quantile."""
    return n - 1 - math.floor(q * (n - 1))


def supported(n: int, q: float, min_beyond: int = MIN_BEYOND) -> bool:
    """True when ``n`` samples leave ``min_beyond`` of them beyond ``q``."""
    return beyond(n, q) >= min_beyond
