"""Small statistics the benchmark reports: the tail-percentile rule,
quartile spreads and span self time."""

from __future__ import annotations

import math
import statistics
from collections.abc import Iterable, Sequence

#: a tail percentile is reported only with this many samples beyond it
TAIL_MIN_BEYOND = 10
#: candidate tail percentiles, highest first
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0)


def percentile(values: Sequence[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default rule)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(values: Sequence[float]) -> tuple[float, float] | None:
    """The highest candidate percentile that has at least
    ``TAIL_MIN_BEYOND`` samples strictly above its rank, as
    ``(p, value)``; None when the sample is too small for any."""
    n = len(values)
    for p in TAIL_CANDIDATES:
        # samples above the percentile's rank, rounded so that e.g. 10 %
        # of 100 samples counts as 10 despite binary fractions
        if round(n * (100.0 - p) / 100.0, 6) >= TAIL_MIN_BEYOND:
            return p, percentile(values, p)
    return None


def quartile_spread(values: Sequence[float]) -> float:
    """(Q3 - Q1) / median, with the quartiles ``statistics.quantiles``
    gives (its default 'exclusive' method)."""
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else math.inf


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(start: float, end: float, children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its child spans cover
    (children clipped to the parent; overlapping children count once)."""
    clipped = [(max(start, lo), min(end, hi)) for lo, hi in children]
    return (end - start) - union_length(clipped)
