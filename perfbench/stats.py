"""Arithmetic behind the benchmark's numbers: medians, the tail
percentile, unions of time intervals and span self time.

Pure functions over plain numbers so they can be tested without Spark
(see test_stats.py).
"""

from __future__ import annotations

import math
import re

METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")

# The tail is the highest percentile that still has this many samples
# above it, so it never rests on one or two outliers.
TAIL_MIN_BEYOND = 10


def median(values: list[float]) -> float:
    s = sorted(values)
    if not s:
        raise ValueError("median of no values")
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def nearest_rank(values: list[float], p: int) -> float:
    """The p-th percentile by nearest rank: the smallest sample with at
    least p% of the samples at or below it."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no values")
    return s[max(1, math.ceil(p * len(s) / 100)) - 1]


def tail_percentile(n: int, min_beyond: int = TAIL_MIN_BEYOND) -> int:
    """Highest whole percentile p in [50, 99] whose nearest-rank sample
    has at least `min_beyond` samples ranked above it. Below
    2 * min_beyond samples no percentile past the median qualifies, and
    the median (50) is returned; the reported percentile says so."""
    best = 50
    for p in range(50, 100):
        if n - math.ceil(p * n / 100) >= min_beyond:
            best = p
    return best


def tail(values: list[float]) -> tuple[float, int, int]:
    """(value, percentile, samples beyond it) of the tail of `values`.
    When too few samples leave no percentile past the median, the tail
    is the median itself."""
    p = tail_percentile(len(values))
    v = nearest_rank(values, p) if p > 50 else median(values)
    return v, p, len(values) - max(1, math.ceil(p * len(values) / 100))


def merge_intervals(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """Sorted, disjoint cover of the given [start, end] intervals."""
    out: list[list[float]] = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total time covered by at least one interval. Overlapping
    intervals (concurrent Spark jobs) count once."""
    return sum(e - s for s, e in merge_intervals(intervals))


def clip(intervals: list[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover."""
    return (end - start) - union_length(clip(children, start, end))


def valid_metric_name(name: str) -> bool:
    return len(name) <= 64 and METRIC_NAME.fullmatch(name) is not None
