"""Statistics the benchmark reports: medians, the tail percentile, the
union of job intervals and span self time."""

import statistics


def median(values):
    return statistics.median(values) if values else 0.0


def tail(values):
    """The highest percentile that has at least ten samples beyond it.

    Returns (value, percentile, samples beyond it). Sorted ascending, the
    k-th value has n - k values above it, so the rule picks k = n - 10 and
    that value is the (100 k / n)-th percentile. With ten samples or fewer
    no percentile has ten beyond it; the maximum is returned then, with
    percentile 100 and none beyond, so the shortfall stays visible.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n <= 10:
        return xs[-1], 100.0, 0
    k = n - 10
    return xs[k - 1], 100.0 * k / n, 10


def union_length(intervals, lo=None, hi=None):
    """Length covered by the union of (start, end) intervals, clipped to
    [lo, hi] when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total = 0.0
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


def self_times(spans):
    """Self time of every span: its duration minus the part of its interval
    that its children cover. `spans` are dicts with id, parent, start and
    end; returns {id: seconds}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - union_length(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }
