"""Order statistics the benchmark reports."""
import math


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return float("nan")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail_percentile(n):
    """The highest whole percentile with at least 10 of ``n`` samples
    above it, never below the median: ``None`` when ``n`` is 0."""
    if n == 0:
        return None
    p = math.floor(100 * (1 - 10 / n)) if n > 10 else 0
    return max(50, min(99, p))


def percentile(xs, p):
    """Nearest-rank ``p``-th percentile."""
    s = sorted(xs)
    if not s:
        return float("nan")
    k = max(1, math.ceil(p / 100 * len(s)))
    return s[k - 1]


def tail(xs):
    """(percentile used, value, samples beyond it)."""
    p = tail_percentile(len(xs))
    if p is None:
        return None, float("nan"), 0
    v = percentile(xs, p)
    return p, v, sum(1 for x in xs if x > v)
