"""Statistics the benchmark reports: medians, the tail percentile, the
union of job intervals and the driver gap, and self time from nested spans.
Pure functions over plain numbers, unit-tested in perfbench/tests."""
import math
import statistics


def median(values):
    values = list(values)
    return statistics.median(values) if values else 0.0


def tail(values, beyond=10):
    """The highest percentile that has at least `beyond` samples above it.

    Returns (value, percentile, n). With n samples sorted ascending, the
    sample at rank r (1-based) has n - r samples beyond it, so the highest
    qualifying rank is n - beyond, i.e. percentile 100 * (n - beyond) / n.
    With `beyond` or fewer samples no percentile qualifies; the maximum is
    returned with percentile 100, so a short run still reports its slowest
    operation and says how many samples it had.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= beyond:
        return xs[-1], 100.0, n
    rank = n - beyond
    return xs[rank - 1], 100.0 * rank / n, n


def union(intervals):
    """Merge (start, end) intervals; returns the sorted disjoint list."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def covered(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of `intervals` clipped to [lo, hi]."""
    return sum(max(0.0, min(e, hi) - max(s, lo))
               for s, e in union(intervals))


def driver_gap(window, jobs):
    """Time inside `window` = (start, end) during which no job ran."""
    lo, hi = window
    return max(0.0, (hi - lo) - covered(jobs, lo, hi))


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its children cover. `spans` is a list of dicts with keys id,
    parent (None for a root), start and end. Returns {id: self time}."""
    children = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: max(0.0, (s["end"] - s["start"])
                         - covered(children.get(s["id"], []), s["start"], s["end"]))
            for s in spans}

