"""Statistics the benchmark reports, kept apart from run.py so they can be tested."""

import math
import statistics


def median(values):
    """Median of a non-empty sequence; 0.0 for an empty one."""
    return statistics.median(values) if values else 0.0


def quartile_spread(values):
    """(q1, median, q3, (q3 - q1) / median) as statistics.quantiles gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3, (q3 - q1) / q2 if q2 else math.inf


def tail_percentile(n, beyond=10):
    """Highest whole percentile with at least `beyond` of `n` samples above it.

    None when there are not more than `beyond` samples.
    """
    if n <= beyond:
        return None
    return math.floor(100 * (n - beyond) / n)


def nearest_rank(values, p):
    """The p-th percentile by nearest rank: the smallest sample with at
    least p% of the samples at or below it."""
    s = sorted(values)
    k = max(1, math.ceil(p / 100 * len(s)))
    return s[k - 1]


def samples_beyond(n, p):
    """How many of `n` samples lie above the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p / 100 * n))


def failed_share(attempted, failed):
    """Failed or wrong operations as a share of those attempted."""
    if attempted <= 0:
        raise ValueError("no operation was attempted")
    return failed / attempted


def self_times(spans):
    """Self time of each span: its duration minus the part of it that its
    child spans cover (overlapping children count once, and only inside
    the parent's interval).

    `spans` are dicts with id, parent, start_s and end_s. Returns {id: s}.
    """
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_s"], s["end_s"]
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_s"]):
            a, b = max(c["start_s"], lo), min(c["end_s"], hi)
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def self_time_by_name(spans):
    """Total and self seconds per span name."""
    own = self_times(spans)
    out = {}
    for s in spans:
        t = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
        t["count"] += 1
        t["total_s"] += s["end_s"] - s["start_s"]
        t["self_s"] += own[s["id"]]
    return out
