"""Small statistics helpers shared by the runner and the trace."""

from __future__ import annotations

import math


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100] (NumPy's
    default method). An empty sample reads 0.0."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50.0)


def covered(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
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


def self_time(span: dict, children: list[dict]) -> float:
    """A span's duration minus the part of it its children cover;
    children are clipped to the parent's interval."""
    s, e = span["start"], span["end"]
    clipped = [
        (max(c["start"], s), min(c["end"], e))
        for c in children
        if c["end"] > s and c["start"] < e
    ]
    return (e - s) - covered(clipped)
