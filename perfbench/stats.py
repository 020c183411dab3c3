"""The benchmark's arithmetic: percentiles, interval unions, self time and
driver gaps. Pure functions, so tests can pin them down."""
import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, p):
    """Nearest-rank p-th percentile (0 < p <= 100) of a non-empty sample."""
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def resolved_percentile(xs, p, beyond=10):
    """The p-th percentile, or None when fewer than `beyond` samples lie
    above it: a tail figure resting on fewer samples is not reported."""
    if not xs:
        return None
    v = percentile(xs, p)
    return v if sum(1 for x in xs if x > v) >= beyond else None


def highest_resolved_percentile(xs, beyond=10):
    """(p, value) for the highest whole percentile with at least `beyond`
    samples above it, or None when even the median has fewer."""
    for p in range(99, 49, -1):
        v = resolved_percentile(xs, p, beyond)
        if v is not None:
            return p, v
    return None


def quartile_spread(xs):
    """(q1, median, q3, (q3 - q1) / median) as statistics.quantiles gives them."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3, ((q3 - q1) / q2 if q2 else math.inf)


def union(intervals):
    """Merge (start, end) intervals into sorted disjoint ones."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [tuple(i) for i in out]


def covered(intervals, lo=None, hi=None):
    """Length of the union of intervals, clipped to [lo, hi] when given."""
    total = 0
    for s, e in union(intervals):
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        total += max(0, e - s)
    return total


def self_time(start, end, children):
    """A span's duration minus the part of it its children cover."""
    return (end - start) - covered(children, start, end)


def driver_gap(start, end, jobs):
    """Time in [start, end] during which no Spark job was running."""
    return (end - start) - covered(jobs, start, end)
