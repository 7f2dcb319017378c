"""Order statistics used by every workload's report."""

from __future__ import annotations

import math
import statistics


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(n=4)`` gives them."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs: list[float]) -> float:
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else math.inf


def tail(xs: list[float]) -> tuple[float, int, int]:
    """The highest whole percentile with at least ten samples beyond it.

    Returns ``(value, percentile, beyond)``. The percentile is
    ``floor(100 * (1 - 10 / n))``, the largest integer p whose
    nearest-rank value ``sorted(xs)[ceil(p * n / 100) - 1]`` still leaves
    ten or more samples above its rank. Below 20 samples no percentile at
    or above the median qualifies, so the median is reported instead and
    ``beyond`` says honestly how few samples lie past it."""
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    s = sorted(xs)
    p = 100 * (n - 10) // n  # integer arithmetic: no float edge cases
    if p < 50:
        return statistics.median(s), 50, n // 2
    rank = -(-p * n // 100)
    return s[rank - 1], p, n - rank
