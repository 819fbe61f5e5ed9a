"""Arithmetic of the benchmark: medians, the percentile rule, self time.

Kept free of I/O so the unit checks in test_stats.py cover it directly.
"""

import math


def median(xs):
    """Median of a non-empty sequence (mean of the middle two when even)."""
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    n = len(s)
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2.0


def percentile(xs, p, min_beyond=10):
    """Nearest-rank p-th percentile, or None unless at least `min_beyond`
    samples lie strictly beyond it.

    A tail percentile read from a handful of samples is mostly the largest
    sample; the rule reports it only when enough samples sit past it to
    make it repeatable.
    """
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return None
    rank = max(1, math.ceil(p / 100.0 * n))
    value = s[rank - 1]
    beyond = sum(1 for x in s if x > value)
    return value if beyond >= min_beyond else None


def covered(intervals, lo, hi):
    """Length of the union of `intervals` clipped to [lo, hi]. Overlapping
    intervals count once."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total = 0
    cur_a = cur_b = None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans, jobs):
    """Self time of every span: its duration minus the part of it that its
    child spans and its attributed Spark jobs cover (overlapping children
    counted once).

    spans: dicts with id, parent, start, end.  jobs: dicts with span, start,
    end.  Returns {span id: self time}, in the units of the inputs.
    """
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    for j in jobs:
        children.setdefault(j["span"], []).append((j["start"], j["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - covered(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }

