"""Summary statistics the benchmark reports."""
import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The highest percentile with at least ten samples beyond it.

    Nearest-rank percentile p has rank ceil(p/100 * n); the samples beyond it
    are n - rank. The highest p leaving ten beyond is 100 * (n - 10) / n. With
    20 samples or fewer that falls at or below the median, so the median is
    reported. Returns (percentile, value, sample count).
    """
    n = len(xs)
    if n == 0:
        return 50, 0.0, 0
    s = sorted(xs)
    p = math.floor(100.0 * (n - 10) / n) if n > 10 else 0
    if p <= 50:
        return 50, median(s), n
    rank = math.ceil(p / 100.0 * n)
    return p, s[rank - 1], n


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total = 0
    end = None
    for s, e in sorted((a, b) for a, b in intervals if b > a):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of it covered by
    its children. Spans are dicts with id, parent, start_ns and end_ns."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            [(max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"]))
             for c in children.get(s["id"], [])])
        out[s["id"]] = (s["end_ns"] - s["start_ns"]) - covered
    return out


def subtree(spans, root_id):
    """The span `root_id` and all its descendants."""
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    out, todo = [], [root_id]
    ids = {s["id"]: s for s in spans}
    while todo:
        i = todo.pop()
        if i in ids:
            out.append(ids[i])
        todo.extend(c["id"] for c in by_parent.get(i, []))
    return out


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
