"""Percentiles as the benchmark reports them."""
import math


def percentile(xs, p):
    """Linear-interpolated percentile of xs (0 <= p <= 100)."""
    s = sorted(xs)
    if not s:
        return float("nan")
    pos = (len(s) - 1) * p / 100.0
    lo = int(math.floor(pos))
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_pct(n):
    """The highest whole percentile with at least 10 samples beyond it,
    capped at the p95 target (and never below the median)."""
    if n <= 20:
        return 50
    return max(50, min(95, int(math.floor(100.0 * (n - 10) / n))))


def p50(xs):
    return percentile(xs, 50)


def tail(xs):
    return percentile(xs, tail_pct(len(xs)))
