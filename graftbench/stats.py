"""Arithmetic the benchmark reports: percentiles and per-layer self time.

A span is a dict with `id`, `parent`, `name`, `start_ns`, `end_ns`.
Parent -1 marks the op's root span; parent -2 marks an interval measured
outside the span stack (a planning phase read from Spark's query
tracker), which is nested under the innermost span containing its
midpoint.
"""
import math


def percentile(xs, p):
    """Linear interpolation between closest ranks (numpy's default)."""
    if not xs:
        return float("nan")
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def beyond(xs, p):
    """How many samples lie strictly above the p-th percentile."""
    q = percentile(xs, p)
    return sum(1 for x in xs if x > q)


def _nest(spans):
    """Return {id: parent_id} with parent -2 intervals placed under the
    innermost span that contains their midpoint."""
    stacked = [s for s in spans if s["parent"] != -2]
    parent = {s["id"]: s["parent"] for s in stacked}
    for s in spans:
        if s["parent"] != -2:
            continue
        mid = (s["start_ns"] + s["end_ns"]) / 2
        holders = [h for h in stacked if h["start_ns"] <= mid <= h["end_ns"]]
        if holders:
            parent[s["id"]] = min(holders, key=lambda h: h["end_ns"] - h["start_ns"])["id"]
        else:
            parent[s["id"]] = -1
    return parent


def self_times(spans, op_start, op_end):
    """Per-layer self time of one op, keyed by span name, plus `other`.

    Each span is clipped to its parent's interval and to the end of its
    previous sibling, so siblings never double count; a span's self time
    is its clipped duration minus its children's clipped durations.
    `other` is the op's wall time minus every non-root span's self time:
    the part of the op no layer covers. The values sum to the op's wall
    time exactly.
    """
    parent = _nest(spans)
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for sid, pid in parent.items():
        kids.setdefault(pid, []).append(sid)
    clipped = {}

    def clip(sid, lo, hi):
        s = by_id[sid]
        a, b = max(s["start_ns"], lo), min(s["end_ns"], hi)
        b = max(a, b)
        clipped[sid] = (a, b)
        cursor = a
        for cid in sorted(kids.get(sid, []), key=lambda c: by_id[c]["start_ns"]):
            clip(cid, cursor, b)
            cursor = max(cursor, clipped[cid][1])

    cursor = op_start
    for rid in sorted(kids.get(-1, []), key=lambda c: by_id[c]["start_ns"]):
        clip(rid, cursor, op_end)
        cursor = max(cursor, clipped[rid][1])

    out = {}
    for sid, (a, b) in clipped.items():
        s = by_id[sid]
        if parent[sid] == -1 and s["name"] == "op":
            continue
        child = sum(clipped[c][1] - clipped[c][0] for c in kids.get(sid, []))
        out[s["name"]] = out.get(s["name"], 0) + (b - a) - child
    out["other"] = (op_end - op_start) - sum(out.values())
    return {k: v / 1e9 for k, v in out.items()}


def union_ns(intervals, lo, hi):
    """Length of the union of [a, b] intervals, clipped to [lo, hi]."""
    total, end = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
