"""Percentiles and medians for the benchmark's reports.

A percentile is reported only when at least ``MIN_TAIL`` samples lie beyond
it: p50 needs 20 samples, p90 needs 100 and p99 needs 1000. A tail read
from fewer samples is one or two outliers, not a percentile. A traced
run's per-layer median needs ``MIN_MEDIAN`` samples from the requested
workload's own slice, or ``MIN_BORROWED`` from another workload's short
slice.
"""

import math

MIN_TAIL = 10
MIN_MEDIAN = 5
MIN_BORROWED = 3


def min_samples(p):
    """Smallest sample count for which percentile ``p`` (0-100) is reported."""
    return math.ceil(MIN_TAIL / (1.0 - p / 100.0) - 1e-9)


def percentile(values, p):
    """Nearest-rank percentile ``p`` of ``values``, or None when fewer than
    ``MIN_TAIL`` samples lie beyond it."""
    if len(values) < min_samples(p):
        return None
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def median(values):
    s = sorted(values)
    n = len(s)
    if n == 0:
        return None
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0
