"""Pure helpers of the benchmark: medians, the tail-percentile rule and span
self time. No I/O, so they are unit-tested directly."""
import math

# Percentiles the tail rule may choose from, highest last.
LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def median(xs):
    xs = sorted(xs)
    if not xs:
        return 0.0
    m = len(xs) // 2
    return float(xs[m]) if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2.0


def nearest_rank(xs, p):
    """The p-th percentile of `xs` by the nearest-rank definition."""
    xs = sorted(xs)
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return float(xs[k - 1])


def tail(xs):
    """(p, value) for the highest ladder percentile that still has at least
    ten samples beyond it; the median when there are fewer than 20 samples
    (no percentile then has ten samples above it)."""
    n = len(xs)
    if n == 0:
        return 50.0, 0.0
    chosen = 50.0
    for p in LADDER:
        if n * (1.0 - p / 100.0) >= 10.0 - 1e-9:
            chosen = p
    return chosen, nearest_rank(xs, chosen)


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
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
    """Self time of every span: its length minus the part of it that its
    children cover (children clipped to the parent, overlaps counted once).
    `spans` are dicts with id, parent, start_us and end_us."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_us"], s["end_us"]
        covered = union_length([(max(a, c["start_us"]), min(b, c["end_us"]))
                                for c in kids.get(s["id"], [])
                                if c["end_us"] > a and c["start_us"] < b])
        out[s["id"]] = (b - a) - covered
    return out


def attach(spans, intervals, layer, name, first_id):
    """Turn engine intervals (Spark jobs, Catalyst phases) into spans whose
    parent is the innermost span that contains their start."""
    out = []
    for i, iv in enumerate(sorted(intervals, key=lambda x: x["start_us"])):
        parent, best = 0, None
        for s in spans:
            if s["start_us"] <= iv["start_us"] < s["end_us"]:
                length = s["end_us"] - s["start_us"]
                if best is None or length < best:
                    parent, best = s["id"], length
        out.append({"id": first_id + i, "parent": parent, "layer": layer,
                    "name": iv.get(name, layer), "start_us": iv["start_us"],
                    "end_us": max(iv["end_us"], iv["start_us"])})
    return out


def layer_totals(spans):
    """{layer: (self_us, span_count)} over all spans."""
    st = self_times(spans)
    out = {}
    for s in spans:
        us, n = out.get(s["layer"], (0, 0))
        out[s["layer"]] = (us + st[s["id"]], n + 1)
    return out

