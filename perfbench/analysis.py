"""Pure functions behind the benchmark's metrics: quantiles, the tail
percentile, interval unions and span self time. No I/O, so the unit tests in
``test_perfbench.py`` cover them directly."""
import math
import statistics

MIN_BEYOND = 10


def median(values):
    return statistics.median(values) if values else 0.0


def tail(values, min_beyond=MIN_BEYOND):
    """The highest whole percentile P with at least ``min_beyond`` samples
    above its nearest-rank value: P = floor(100 * (1 - min_beyond / n)).

    Returns ``(P, value, n, beyond)``. With fewer than ``2 * min_beyond``
    samples no percentile above the median qualifies; P is 50 and the value
    the median then, and ``beyond`` says how many samples lie above it."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0, 0.0, 0, 0
    p = max(50, math.floor(100 * (1 - min_beyond / n)))
    rank = max(1, math.ceil(p * n / 100))  # nearest-rank, 1-based
    return p, max(xs[rank - 1], statistics.median(xs)), n, n - rank


def union(intervals):
    """Merges (start, end) intervals; returns the disjoint sorted union."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [tuple(i) for i in out]


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of ``intervals``."""
    return sum(max(0.0, min(e, hi) - max(s, lo)) for s, e in union(intervals))


def uncovered(intervals, lo, hi):
    """Length of [lo, hi] that no interval covers — e.g. an op's time in which
    no task runs, its driver-only time."""
    return (hi - lo) - covered(intervals, lo, hi)


def self_times(spans):
    """Self time per span: its duration minus the part of its interval that
    its children cover (children may overlap one another and may run past
    the parent; only the covered part inside the parent counts).

    ``spans`` maps span id -> (parent id or None, start, end)."""
    children = {}
    for sid, (parent, s, e) in spans.items():
        if parent is not None:
            children.setdefault(parent, []).append((s, e))
    return {sid: (e - s) - covered(children.get(sid, []), s, e)
            for sid, (_, s, e) in spans.items()}


def spread(values):
    """Interquartile distance as a share of the median, the statistic the
    benchmark's bounds are set against."""
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    m = statistics.median(values)
    return (q3 - q1) / m if m else 0.0
