"""Arithmetic the benchmark reports with, kept apart so it can be tested
without Spark: percentiles, interval unions (driver gap), span self time
and the result line."""
import json
import math

# Candidate percentiles, highest first.
PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values, p):
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def samples_beyond(n, p):
    """How many of n sorted samples sit above the interpolation point
    of the p-th percentile (index (n - 1) * p / 100)."""
    if n <= 0:
        return 0
    return n - 1 - math.floor((n - 1) * p / 100.0)


def highest_supported_percentile(n, min_beyond=10):
    """The highest candidate percentile with at least `min_beyond`
    samples beyond it, or None when even the median has fewer."""
    for p in PERCENTILES:
        if samples_beyond(n, p) >= min_beyond:
            return p
    return None


def median(values):
    return percentile(values, 50.0)


def geomean(values):
    xs = [v for v in values if v > 0]
    if not xs:
        return float("nan")
    return math.exp(sum(math.log(v) for v in xs) / len(xs))


def union_length(intervals):
    """Total length covered by the union of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, start, end):
    return [(max(s, start), min(e, end)) for s, e in intervals
            if min(e, end) > max(s, start)]


def driver_gap(start, end, job_intervals):
    """Time in [start, end] during which no job was running."""
    return (end - start) - union_length(clip(job_intervals, start, end))


def self_times(spans):
    """Map span id -> own duration minus the part of it that its
    children cover. `spans` are dicts with id, parent, start_ms, end_ms."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    out = {}
    for s in spans:
        kids = clip(children.get(s["id"], []), s["start_ms"], s["end_ms"])
        out[s["id"]] = (s["end_ms"] - s["start_ms"]) - union_length(kids)
    return out


def _finite(v):
    v = float(v)
    return v if math.isfinite(v) else 0.0


def result_line(correct, attempted, failed, metrics):
    """The one JSON line the benchmark ends with. `metrics` maps name ->
    (value, unit); non-finite values are written as 0 so the line always
    parses."""
    return json.dumps({
        "correct": bool(correct),
        "attempted": max(1, int(attempted)),
        "failed": int(failed),
        "metrics": {k: {"value": _finite(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    }, allow_nan=False)
