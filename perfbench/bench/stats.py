"""Percentiles and the sample-count rule for reporting them."""

import math
import statistics


def percentile(values, q):
    """Nearest-rank percentile: the smallest sample with at least q% of the
    samples at or below it. Every reported value is one that was measured."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    return xs[rank - 1]


def reportable(q, n):
    """A percentile is reported only with at least ten samples beyond it,
    so p90 needs 100 samples and p50 needs 20. The median is always
    reported, with its sample count, because it is the headline."""
    if q == 50:
        return n >= 1
    return n * (100 - q) / 100.0 >= 10


def summary(values, qs=(50, 90)):
    """{"n": count, "p50": .., "p90": ..} with only the reportable ones."""
    out = {"n": len(values)}
    for q in qs:
        if values and reportable(q, len(values)):
            out["p%d" % q] = percentile(values, q)
    return out


def median(values):
    """The middle sample, or the mean of the two middle ones for an even
    count: a gated figure is never the smaller of two samples."""
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)
