"""Arithmetic of the benchmark: percentiles, span coverage and self time."""
import math

# Percentiles a timing may be reported at, lowest first.
LADDER = (0.5, 0.9, 0.95, 0.99, 0.999)


def percentile(values, q):
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n, ladder=LADDER, beyond=10):
    """The highest percentile of `ladder` that leaves at least `beyond` of
    `n` samples above it, or None when even the median does not."""
    best = None
    for q in ladder:
        if n * (1 - q) >= beyond - 1e-9:
            best = q
    return best


def covered(start, end, intervals):
    """Length of [start, end] covered by the union of `intervals`."""
    clipped = sorted((max(s, start), min(e, end)) for s, e in intervals
                     if e > start and s < end)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start, end, children):
    """A span's duration minus the part of it its child spans cover."""
    return (end - start) - covered(start, end, children)


def driver_only(op_start, op_end, jobs):
    """Op wall time with no Spark job running: the op span's self time when
    its children are the job spans."""
    return self_time(op_start, op_end, jobs)
