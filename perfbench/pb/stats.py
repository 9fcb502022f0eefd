"""Percentiles for the benchmark's reports."""
import math

MIN_BEYOND = 10


def percentile(values, q):
    """Nearest-rank percentile q (0-100) of values; NaN when empty."""
    if not values:
        return float("nan")
    s = sorted(values)
    k = max(1, math.ceil(q / 100.0 * len(s)))
    return s[min(k, len(s)) - 1]


def tail_rank(n, want=99.0):
    """The highest percentile, at most `want`, with at least ten samples
    beyond it; None when there are ten samples or fewer."""
    if n <= MIN_BEYOND:
        return None
    return min(want, math.floor(1000.0 * (1.0 - MIN_BEYOND / n)) / 10.0)


def tail(values, want=99.0):
    """(percentile reported, value, sample count) by the tail rule."""
    q = tail_rank(len(values), want)
    if q is None:
        return (None, float("nan"), len(values))
    return (q, percentile(values, q), len(values))
