"""The benchmark's statistics: median, the tail-percentile rule, spread
and the agreement check between two sets of runs. Self-test:
``python3 kgbench/test_stats.py``."""
import math
import statistics

TAIL_MIN_BEYOND = 10


def median(xs):
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def percentile(xs, p):
    """Linear-interpolated percentile (numpy's default method)."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    pos = (len(s) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail(xs, min_beyond=TAIL_MIN_BEYOND):
    """The highest percentile with at least `min_beyond` samples beyond
    it: p = 100 * (1 - min_beyond / n), floored to 0.1. With fewer than
    2 * min_beyond samples that percentile would fall at or below the
    median, so the tail is the largest sample instead (p = 100).
    Returns (value, percentile, samples beyond it)."""
    n = len(xs)
    if n < 2 * min_beyond:
        return max(xs), 100.0, 0
    p = math.floor(1000.0 * (1.0 - min_beyond / n)) / 10.0
    beyond = sum(1 for x in xs if x > percentile(xs, p))
    return percentile(xs, p), p, beyond


def spread(values):
    """Interquartile range as a share of the median, the way the
    acceptance check computes it."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / median(values)


def agrees(first, second, bound, better):
    """True when the second set's median is not worse than the first's
    by more than `bound` (a share of the first median)."""
    m1, m2 = median(first), median(second)
    worse = (m2 - m1) / m1 if better == "lower" else (m1 - m2) / m1
    return worse <= bound
