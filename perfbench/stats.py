"""Metric arithmetic shared by the runner and its tests: percentiles, the
tail-percentile rule, interval unions, self times and driver gaps."""
import math


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


def median(values):
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2.0


def tail_percentile(n, beyond=10):
    """The highest whole percentile, at least the median, that leaves at
    least `beyond` of `n` samples above its nearest-rank value; 50 when a
    run is too short to support anything higher."""
    best = 50
    for p in range(50, 100):
        if n - math.ceil(p / 100.0 * n) >= beyond:
            best = p
    return best


def union(intervals):
    """Merge (start, end) intervals into disjoint sorted ones."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [tuple(i) for i in out]


def covered(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of `intervals` clipped to [lo, hi]."""
    clipped = [(max(s, lo), min(e, hi)) for s, e in intervals]
    return sum(e - s for s, e in union(clipped))


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span
    return (e - s) - covered(children, s, e)


def driver_gap(window, jobs):
    """Wall time of `window` not covered by any Spark job: wall minus the
    union of the job intervals inside it, never their sum, because jobs
    overlap."""
    return self_time(window, jobs)


def tree_self_total(spans, lo, hi):
    """Sum of self times over a span tree clipped to [lo, hi]. `spans` is a
    list of (start, end, parent index) where parent -1 is a root. Equals the
    covered length of the roots when children nest in their parents and do
    not overlap their siblings."""
    clipped = [(max(s, lo), min(e, hi), p) for s, e, p in spans]
    kids = {}
    for i, (s, e, p) in enumerate(clipped):
        kids.setdefault(p, []).append((s, e))
    return sum(self_time((s, e), kids.get(i, [])) for i, (s, e, _) in enumerate(clipped)
               if e > s)


def failed_frac(attempted, failed):
    if attempted < 1:
        raise ValueError("no op was attempted")
    return failed / attempted
