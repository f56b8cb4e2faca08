"""Arithmetic the benchmark reports with: percentiles, geometric means and
span self time. Pure functions over plain lists, so the tests can pin them
on fixed inputs."""
import math


def percentile(values, p):
    """The p-th percentile (0 <= p <= 100) by linear interpolation between
    closest ranks, as numpy's default method computes it."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def geomean(values):
    if not values or any(v <= 0 for v in values):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def union_length(intervals, lo=None, hi=None):
    """Length of the union of [start, end] intervals, each clipped to
    [lo, hi] when those are given."""
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
    that its direct children cover. `spans` are dicts with id, parent,
    start and end; returns {id: self_time}."""
    children = {}
    for s in spans:
        children.setdefault(s.get("parent"), []).append(s)
    out = {}
    for s in spans:
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        covered = union_length(kids, s["start"], s["end"])
        out[s["id"]] = max(0.0, (s["end"] - s["start"]) - covered)
    return out


def coverage(span, kids):
    """Share of a span's wall time covered by its direct children."""
    dur = span["end"] - span["start"]
    if dur <= 0:
        return 1.0
    return union_length([(c["start"], c["end"]) for c in kids], span["start"], span["end"]) / dur
