"""Summary statistics with the benchmark's reporting rule.

A timing is reported as its median with the sample count. A higher
percentile is reported only when at least `MIN_BEYOND` samples lie beyond
it; otherwise it is printed as not available.
"""
import math
import statistics

MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    samples at or below it."""
    if not values:
        raise ValueError("no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100 * len(xs)))
    return xs[rank - 1]


def beyond(n, p):
    """How many of n samples lie beyond the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p / 100 * n))


def reportable(n, p):
    return n > 0 and beyond(n, p) >= MIN_BEYOND


def median(values):
    return statistics.median(values)


def p90(values):
    """The nearest-rank 90th percentile, or None while fewer than
    `MIN_BEYOND` samples lie beyond it."""
    return percentile(values, 90) if reportable(len(values), 90) else None
