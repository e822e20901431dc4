"""Pure arithmetic behind the benchmark's reported numbers.

Kept free of Spark so the unit tests in ``test_metrics.py`` can check it
directly: interval unions (time covered by jobs or spans), self time of a
span, and the median/quartile summary used for every cross-run report.
"""

from __future__ import annotations

import statistics


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by the union of ``(start, end)`` intervals,
    clipped to ``[lo, hi]`` when given. Overlaps are counted once."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def gap_length(start: float, end: float, busy) -> float:
    """Part of ``[start, end]`` not covered by any ``busy`` interval — the
    ``driver_gap_s`` of a span whose job intervals are ``busy``."""
    return max(0.0, (end - start) - union_length(busy, start, end))


def self_time(span: dict, children) -> float:
    """A span's duration minus the part of it its child spans cover."""
    return gap_length(span["start"], span["end"], [(c["start"], c["end"]) for c in children])


def summary(values) -> dict:
    """n, median, first and third quartile, and the quartile spread as a
    share of the median, as ``statistics.quantiles(values, n=4)`` gives them.
    Computed over whole runs only, never over per-op minima."""
    vals = sorted(float(v) for v in values)
    if not vals:
        return {"n": 0}
    med = statistics.median(vals)
    if len(vals) < 2:
        q1 = q3 = vals[0]
    else:
        q1, _, q3 = statistics.quantiles(vals, n=4)
    return {
        "n": len(vals),
        "median": med,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / med if med else 0.0,
    }


def ratio_max_p50(pairs) -> float:
    """Largest ``max / p50`` over ``(p50, max)`` task-time pairs (one pair per
    stage); stages whose median task took no time are skipped."""
    ratios = [mx / p50 for p50, mx in pairs if p50 > 0]
    return max(ratios) if ratios else 0.0
