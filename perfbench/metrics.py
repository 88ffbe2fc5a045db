"""Metric math of the benchmark, kept free of I/O so it can be tested.

Times are in milliseconds since the epoch unless a name says otherwise.
"""
import math


def union_ms(intervals, lo=None, hi=None):
    """Length of the union of `(start, end)` intervals, clipped to
    `[lo, hi]` when given. Overlapping jobs count once."""
    spans = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            spans.append((s, e))
    spans.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_ms(span, children):
    """A span's self time: its duration minus the part of it that its
    child spans cover."""
    s, e = span
    return (e - s) - union_ms(children, s, e)


def tail(values, beyond=10):
    """The highest whole percentile that still has at least `beyond`
    samples above it, by nearest rank. Returns `(value, percentile,
    samples)`, or None when there are too few samples for any."""
    xs = sorted(values)
    n = len(xs)
    if n <= beyond:
        return None
    pct = max(p for p in range(1, 100) if math.ceil(p * n / 100) <= n - beyond)
    return xs[math.ceil(pct * n / 100) - 1], pct, n


def open_loop(batches):
    """Per-batch latency and generator lag of an open-loop phase.

    A batch is timed from the moment it was due, not from the moment the
    generator handed it over, so a stall that makes the generator late
    is charged to every batch it delays. Each batch is a dict with
    `due`, `handed_over` and `end` (its commit)."""
    latency = [b["end"] - b["due"] for b in batches]
    lag = [max(0.0, b["handed_over"] - b["due"]) for b in batches]
    return latency, lag


def check_plan(builds, entries):
    """Enforce the once-per-process rule on a run plan: every entry and
    state build is timed at most once in a process, and all state builds
    run before the first entry, so no entry pays a build and no build is
    re-timed as a memoized hit."""
    for kind, names in (("entry", entries), ("state build", builds)):
        seen = set()
        for n in names:
            if n in seen:
                raise ValueError(f"{kind} {n} planned twice in one process")
            seen.add(n)
    if set(builds) & set(entries):
        raise ValueError("a state build is also planned as an entry")
