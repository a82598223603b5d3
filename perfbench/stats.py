"""Arithmetic shared by the benchmark and its comparison script: medians,
percentiles, the tail percentile, quartile spread and span self time."""
import math
import statistics


def percentile(values, p):
    """Linear-interpolated p-th percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    r = p / 100.0 * (len(xs) - 1)
    lo = math.floor(r)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (r - lo)


def median(values):
    return percentile(values, 50)


def tail_pct(n):
    """The highest whole percentile with at least ten samples beyond it;
    the median when there are fewer than twenty samples."""
    if n < 20:
        return 50
    return max(50, min(99, math.floor(100 * (1 - 10 / n))))


def tail(values):
    p = tail_pct(len(values))
    return percentile(values, p), p


def quartile_spread(values):
    """(q3 - q1) / median, with quartiles as statistics.quantiles(n=4)
    (the exclusive method) gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur = 0, None
    for s, e in sorted(intervals):
        if cur is None:
            cur = [s, e]
        elif s > cur[1]:
            total += cur[1] - cur[0]
            cur = [s, e]
        else:
            cur[1] = max(cur[1], e)
    if cur is not None:
        total += cur[1] - cur[0]
    return total


def self_times(spans, key=lambda s: s[3]):
    """Self time per layer: each span's duration minus the part of its
    interval its child spans cover, summed by `key` (the layer). Spans are
    (id, parent, op, layer, name, start, end) in any time unit."""
    children = {}
    for s in spans:
        children.setdefault(s[1], []).append(s)
    out = {}
    for s in spans:
        sid, start, end = s[0], s[5], s[6]
        covered = union_length(
            (max(c[5], start), min(c[6], end)) for c in children.get(sid, [])
            if c[6] > start and c[5] < end)
        out[key(s)] = out.get(key(s), 0) + (end - start) - covered
    return out
