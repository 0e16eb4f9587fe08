"""Order statistics and interval arithmetic for the benchmark report."""

from __future__ import annotations

import math

TAIL_TARGET = 90  # percentile reported once a run has enough samples
TAIL_BEYOND = 10  # samples that must lie beyond a reported percentile


def percentile(values, pct: float) -> float:
    """Nearest-rank percentile: the smallest value with at least ``pct``% of
    the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(pct / 100.0 * len(xs)))
    return xs[rank - 1]


def median(values) -> float:
    xs = sorted(values)
    if not xs:
        raise ValueError("median of no samples")
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def tail_percentile(n: int, target: int = TAIL_TARGET,
                    beyond: int = TAIL_BEYOND) -> int | None:
    """Highest whole percentile ≤ ``target`` whose nearest-rank sample has at
    least ``beyond`` samples above it (``target`` itself from 100 samples on
    at the defaults); None when even the lowest sample has too few."""
    for pct in range(target, 0, -1):
        if n - max(1, math.ceil(pct / 100.0 * n)) >= beyond:
            return pct
    return None


def tail(values) -> tuple[int | None, float | None]:
    """(percentile, value) per tail_percentile, or (None, None)."""
    pct = tail_percentile(len(values))
    return (pct, percentile(values, pct)) if pct is not None else (None, None)


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


def covered_within(intervals, start: float, end: float) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    return union_length([(max(s, start), min(e, end)) for s, e in intervals
                         if min(e, end) > max(s, start)])
