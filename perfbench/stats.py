"""Statistics shared by the benchmark report (run.py) and the steadiness
tool (steady.py): medians, the tail-percentile rule, quartile spread and
span self time. Pure functions, no dependencies beyond the standard library.
"""
import math
import statistics

# Candidate tail percentiles, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)
# A tail percentile needs at least this many samples beyond it.
MIN_BEYOND = 10


def median(values):
    """Median of a non-empty sequence (infinite values sort last)."""
    return statistics.median(sorted(values))


def tail_percentile(n):
    """Highest candidate percentile with at least MIN_BEYOND of `n` samples
    strictly beyond it, or None when `n` is too small for any."""
    for p in TAIL_PERCENTILES:
        if math.floor(n * (100.0 - p) / 100.0 + 1e-9) >= MIN_BEYOND:
            return p
    return None


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    samples at or below it."""
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s) - 1e-9))
    return s[rank - 1]


def tail(values):
    """(percentile, value) of the tail rule, or (None, None)."""
    p = tail_percentile(len(values))
    return (p, percentile(values, p)) if p is not None else (None, None)


def spread(values):
    """(median, q1, q3, (q3 - q1) / median) as Python's
    statistics.quantiles(values, n=4) gives the quartiles."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q2, q1, q3, (q3 - q1) / q2 if q2 else math.inf


def covered(start, end, intervals):
    """Length of [start, end] covered by the union of `intervals`."""
    clipped = sorted((max(a, start), min(b, end)) for a, b in intervals
                     if b > start and a < end)
    total, cur_a, cur_b = 0.0, None, None
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


def self_time(start, end, intervals):
    """A span's self time: its duration minus the part of it that the
    given intervals (its Spark jobs, or its child spans) cover."""
    return (end - start) - covered(start, end, intervals)
