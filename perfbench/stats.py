"""The benchmark's own arithmetic: percentiles, quartile spread, span self
time and growth ratios. Tested by `test_stats.py`."""
import math
import statistics

TAIL = 10  # samples a reported percentile must have beyond it


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def beyond(n, p):
    """How many of n samples lie strictly beyond the p-th percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def highest_percentile(n, candidates=(50, 90, 99, 99.9)):
    """The highest candidate percentile that has at least TAIL samples
    beyond it (None when even the median does not)."""
    ok = [p for p in candidates if beyond(n, p) >= TAIL]
    return max(ok) if ok else None


def quartiles(values):
    """(q1, median, q3) as `statistics.quantiles(values, n=4)` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Distance between the first and third quartile as a share of the
    median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2


def covered(start, end, intervals):
    """Length of [start, end] covered by the union of `intervals`, each
    clipped to the span; overlapping intervals count once."""
    clipped = sorted((max(a, start), min(b, end)) for a, b in intervals
                     if b > start and a < end)
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start, end, children):
    """A span's duration minus the part of it its child spans cover."""
    return (end - start) - covered(start, end, children)


def growth(times):
    """Median of the last half of a sequence over the median of its first
    half (None for fewer than 2 samples). Halves, not quarters: with the
    twenty-odd batches a run affords, the median of a quarter moves with a
    few seconds of host slowdown."""
    h = len(times) // 2
    if h == 0:
        return None
    return statistics.median(times[-h:]) / statistics.median(times[:h])


def pass_growth(samples):
    """For repeated passes over the same ops: each op's [[growth]] over its
    passes, median over ops. `samples` maps an op name to its times in
    pass order."""
    ratios = [g for g in map(growth, samples.values()) if g is not None]
    return statistics.median(ratios) if ratios else None
