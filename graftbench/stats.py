"""Small statistics helpers for the benchmark's metrics."""


def percentile(values, q):
    """The q-th percentile (0..100) by linear interpolation between the
    closest ranks, as numpy's default method does."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def samples_beyond(n, q):
    """How many of n samples lie strictly above the q-th percentile's rank."""
    return n - 1 - int((n - 1) * q / 100.0)


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the union of [start, end] intervals,
    optionally clipped to [lo, hi]. Open intervals (end < start) are
    ignored."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total = 0
    cur_s = cur_e = None
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


def driver_gap(op_start, op_end, job_intervals):
    """Time inside [op_start, op_end] during which no Spark job ran."""
    return (op_end - op_start) - union_length(job_intervals, op_start, op_end)
