"""Pure helpers for the benchmark's numbers: percentiles, freshness and
backlog from an offset timeline, span self time, and job-time coverage.
Nothing here touches Spark, so the self-tests run in plain Python."""

from __future__ import annotations

import bisect
import math


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]; 0.0 for no values."""
    xs = sorted(values)
    if not xs:
        return 0.0
    if len(xs) == 1:
        return float(xs[0])
    k = (len(xs) - 1) * q / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (k - lo))


def median(values) -> float:
    return percentile(values, 50.0)


def highest_supported_percentile(n: int, candidates=(99.9, 99.0, 95.0, 90.0, 75.0, 50.0),
                                 min_beyond: int = 10) -> float | None:
    """The highest candidate percentile that leaves at least ``min_beyond``
    samples above it among ``n`` independent samples, or None."""
    for q in candidates:
        if n * (100.0 - q) / 100.0 >= min_beyond:
            return q
    return None


def offset_timeline_positions(timeline):
    """Sorted (time, position) pairs with position made monotone."""
    out = []
    best = -1
    for t, pos in sorted(timeline):
        if pos > best:
            best = pos
            out.append((t, pos))
    return out


def commit_groups(first_pos: int, timeline):
    """Group events by the poll at which they became visible.

    Events carry consecutive positions starting at ``first_pos``; run index
    ``j`` is position ``first_pos + j``. ``timeline`` holds (poll time,
    committed position) pairs. An event is visible at the first poll whose
    position reaches it. Returns [(visible_time, first_index, last_index)].
    """
    pos0 = first_pos
    groups = []
    seen = pos0 - 1
    for t, pos in offset_timeline_positions(timeline):
        if pos <= seen:
            continue
        groups.append((t, seen + 1 - pos0, pos - pos0))
        seen = pos
    return groups


def freshness_samples(groups, rate: float, t0: float):
    """Per-event freshness (seconds) for an open-loop schedule where run
    index j was due at t0 + j / rate."""
    out = []
    for visible, lo, hi in groups:
        out.extend(visible - (t0 + j / rate) for j in range(lo, hi + 1))
    return out


def backlog_series(groups, rate: float, t0: float, t_end: float, step: float = 0.05):
    """Events due but not yet visible, sampled every ``step`` seconds from
    t0 to t_end: [(t, backlog_events)]."""
    visible_t = [g[0] for g in groups]
    visible_n = []
    n = 0
    for _, lo, hi in groups:
        n = hi + 1
        visible_n.append(n)
    out = []
    t = t0
    while t <= t_end + 1e-9:
        due = max(0, math.floor((t - t0) * rate))
        i = bisect.bisect_right(visible_t, t) - 1
        vis = visible_n[i] if i >= 0 else 0
        out.append((t, max(0, due - vis)))
        t += step
    return out


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
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


def clip(intervals, lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_time(span, children, jobs=()) -> float:
    """A span's duration minus the part of it covered by its children and
    by Spark jobs (intervals are (start, end))."""
    s, e = span
    covered = clip(list(children) + list(jobs), s, e)
    return (e - s) - union_length(covered)
