"""Small statistics helpers shared by the runner and its tests."""

from __future__ import annotations

import math

TAIL_SAMPLES = 10  # samples a reported tail percentile keeps beyond it


def tail_percentile(n: int) -> float:
    """Highest percentile that still has at least ``TAIL_SAMPLES``
    samples above it in a sample of ``n`` (0.0 when ``n`` is too
    small)."""
    if n <= TAIL_SAMPLES:
        return 0.0
    return 100.0 * (n - TAIL_SAMPLES) / n


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``p`` percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return float(xs[min(rank, len(xs)) - 1])


def merged_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        elif e > cur_e:
            cur_e = e
    if cur_e is not None:
        total += cur_e - cur_s
    return total
