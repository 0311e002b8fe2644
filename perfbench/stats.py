"""Statistics for the graft benchmark: percentiles and span self times.

Pure functions over plain lists, so they can be tested without Spark.
"""
import math

# beyond the tail percentile there must be at least this many samples
TAIL_SAMPLES = 10


def nearest_rank(values, pct):
    """The pct-th percentile of values by the nearest-rank rule."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    k = max(1, math.ceil(pct / 100.0 * len(xs)))
    return xs[k - 1]


def tail_percentile(n):
    """The highest whole percentile with at least TAIL_SAMPLES samples
    beyond it, out of n samples, or None when n is too small.

    With the nearest-rank rule the p-th percentile is sample
    ceil(p * n / 100), so TAIL_SAMPLES lie beyond it when that rank is
    at most n - TAIL_SAMPLES.
    """
    if n <= TAIL_SAMPLES:
        return None
    return (100 * (n - TAIL_SAMPLES)) // n


def latency_summary(latencies, failed=0):
    """Median and tail of a set of op latencies.

    Failed ops count as missing every latency limit: they rank above
    every completed op. A percentile that lands on a failed op reads
    as infinite.
    """
    xs = sorted(latencies) + [math.inf] * failed
    n = len(xs)
    if n == 0:
        return {"n": 0}
    # too few samples for a tail above the median: the tail is the median
    p = max(50, tail_percentile(n) or 50)
    return {"n": n, "p50": nearest_rank(xs, 50), "tail_pct": p,
            "tail": nearest_rank(xs, p), "beyond_tail": n - math.ceil(p * n / 100.0)}


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of (start, end) intervals clipped to [lo, hi]."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals)
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def resolve_parents(spans):
    """Give every span without a parent the innermost span that contains
    its start; spans are dicts with id, parent, name, start and end.

    Only spans that were opened by the benchmark or by graft's folds can
    be parents; Spark jobs and planning phases are leaves.
    """
    def can_parent(s):
        return not (s["name"].startswith("exec.") or s["name"].startswith("plans."))

    parents = [s for s in spans if can_parent(s)]
    for s in spans:
        if s["parent"] != -1:
            continue
        best = None
        for p in parents:
            if p is s or p["op"] != s["op"]:
                continue
            if p["start"] <= s["start"] <= p["end"] and (p["end"] - p["start"]) >= (s["end"] - s["start"]):
                if best is None or (p["end"] - p["start"]) < (best["end"] - best["start"]):
                    best = p
        s["parent"] = best["id"] if best is not None else -1
    return spans


def self_times(spans):
    """Self time of each span: its duration minus the part of it that its
    children cover. Overlapping children (parallel folds) count once.
    Returns {span id: self time}.
    """
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = children.get(s["id"], [])
        covered = union_length([(k["start"], k["end"]) for k in kids], s["start"], s["end"])
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def layer_of(name):
    """The layer a span belongs to: the first part of its name."""
    head = name.split(".", 1)[0]
    return "driver" if head == "op" else head
