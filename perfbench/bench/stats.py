"""Percentiles, spreads and span arithmetic for the benchmark."""
import math


def percentile(values, q):
    """The q-th percentile (0..100), linear between closest ranks."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(values, q=90, min_beyond=10):
    """The q-th percentile, or None when fewer than min_beyond samples lie
    beyond it (a tail read from fewer samples is noise)."""
    if len(values) * (100 - q) / 100.0 < min_beyond:
        return None
    return percentile(values, q)


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# spans that contain other spans by time although no caller links them
ADOPTERS = ("microbatch",)


def nest(spans):
    """Complete the span tree in place and return it as {id: span}.

    Spans with parent -2 (GC pauses, planning phases, micro-batches) get
    the deepest linked span whose interval contains their start. A linked
    span inside a time-placed adopter (a micro-batch) that shares its
    parent moves under it. Pass and unit ids are then inherited from the
    parent."""
    spans = [s for s in spans if s["end"] is not None and s["end"] >= s["start"]]
    by_id = {s["id"]: s for s in spans}
    depth = {}

    def depth_of(s):
        if s["id"] not in depth:
            p = by_id.get(s["parent"])
            depth[s["id"]] = 0 if p is None else depth_of(p) + 1
        return depth[s["id"]]

    linked = [s for s in spans if s["parent"] != -2]
    placed = [s for s in spans if s["parent"] == -2]
    for s in placed:
        hosts = [h for h in linked if h["start"] <= s["start"] <= h["end"]]
        s["parent"] = max(hosts, key=depth_of)["id"] if hosts else -1
    depth.clear()
    for s in linked:
        for a in placed:
            if (a["name"] in ADOPTERS and a["parent"] == s["parent"]
                    and a["start"] <= s["start"] and s["end"] <= a["end"]):
                s["parent"] = a["id"]
                break
    depth.clear()
    for s in sorted(spans, key=depth_of):
        p = by_id.get(s["parent"])
        if p is not None and s["pass"] == -1:
            s["pass"], s["unit"] = p["pass"], p["unit"]
    return by_id


def self_times(by_id):
    """{id: span duration minus the part of it its children cover}."""
    kids = {}
    for s in by_id.values():
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for i, s in by_id.items():
        covered = union_length(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in kids.get(i, []))
        out[i] = (s["end"] - s["start"]) - covered
    return out
