"""Arithmetic the benchmark reports with: percentiles, spreads, span
self times and the metadata decision read from a physical plan."""

import math
import statistics

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def _rank(p, n):
    """ceil(p% of n), immune to the float error in e.g. 99.9 / 100 * n."""
    return math.ceil(round(p * n / 100.0, 9))


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(xs)
    if not s:
        return 0.0
    k = max(1, _rank(p, len(s)))
    return s[k - 1]


def tail_percentile(n):
    """The highest percentile on the ladder that leaves at least ten of
    `n` samples beyond it, or None when the sample is too small."""
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= 10:
            return p
    return None


def summary(xs):
    """Median, the supported tail percentile, the sample count and, from
    two samples on, the quartile spread."""
    out = {"n": len(xs), "p50": median(xs)}
    if len(xs) >= 2:
        out["spread"] = quartile_spread(xs)
    p = tail_percentile(len(xs))
    if p is not None:
        out["p%g" % p] = percentile(xs, p)
    return out


def quartile_spread(xs):
    """(Q3 - Q1) / median, with the quartiles `statistics.quantiles`
    gives; the spread measure the bounds in BENCHMARK.json hold."""
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4)
    m = statistics.median(xs)
    return (q3 - q1) / m if m else float("inf")


def union_length(intervals, lo=None, hi=None):
    """Total length covered by (start, end) intervals, clipped to
    [lo, hi] when given."""
    segs = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            segs.append((s, e))
    segs.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in segs:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def assign_parents(spans, slack=1.0):
    """Give every span without a parent the innermost longer span of the
    same operation whose interval holds it, within `slack` (Spark's event
    clock has millisecond resolution). Returns a new list."""
    out = [dict(s) for s in spans]
    by_op = {}
    for s in out:
        by_op.setdefault(s["op"], []).append(s)

    def dur(x):
        return x["end"] - x["start"]

    for group in by_op.values():
        for s in group:
            if s.get("parent", -1) != -1:
                continue
            holders = [c for c in group if c is not s
                       and (dur(c), -c["id"]) > (dur(s), -s["id"])
                       and c["start"] - slack <= s["start"] and s["end"] <= c["end"] + slack]
            s["parent"] = min(holders, key=dur)["id"] if holders else -1
    return out


def self_times(spans):
    """Per-layer self time: each span's duration minus the part of its
    interval that its children cover, summed by layer."""
    children = {}
    for s in spans:
        children.setdefault(s.get("parent", -1), []).append(s)
    out = {}
    for s in spans:
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        own = (s["end"] - s["start"]) - union_length(kids, s["start"], s["end"])
        out[s["layer"]] = out.get(s["layer"], 0.0) + max(0.0, own)
    return out


def meta_decision(nodes):
    """How the metadata-aggregate rule treated a query, from the class
    names of its executed physical plan: `served` (answered from lake
    metadata: a local relation, no file scan), `hybrid` (metadata rows
    merged with a scan of the straddling files), `declined` (a plain
    scan) or `none` (neither, e.g. `select 42`)."""
    scan = any(n in ("FileSourceScanExec", "BatchScanExec") for n in nodes)
    local = "LocalTableScanExec" in nodes
    if local and scan:
        return "hybrid"
    if local:
        return "served"
    if scan:
        return "declined"
    return "none"
