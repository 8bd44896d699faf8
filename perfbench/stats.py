"""Order statistics the benchmark reports."""

from __future__ import annotations

import statistics


def median(xs) -> float:
    return float(statistics.median(xs))


def percentile(xs, p: float) -> float:
    """Linear-interpolation percentile (numpy's default method)."""
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail_percentile(n: int, min_beyond: int = 10) -> float | None:
    """The highest of the usual percentiles with at least ``min_beyond`` of
    ``n`` samples above it, or None when even the median has fewer. A
    timing is reported as its median and this percentile."""
    for per_mille in (999, 990, 950, 900, 750, 500):
        if n * (1000 - per_mille) >= min_beyond * 1000:
            return per_mille / 10
    return None


def spread(xs) -> float:
    """Distance between the first and third quartile over the median, with
    ``statistics.quantiles(xs, n=4)``."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)
