"""Summary statistics and span arithmetic for the CDC benchmark."""

from __future__ import annotations

import math
import statistics


def percentile(samples: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    if not samples:
        raise ValueError("percentile of no samples")
    xs = sorted(samples)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(samples: list[float], min_beyond: int = 10) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile that still has at
    least ``min_beyond`` samples above it.

    With ``n`` samples that is ``100 * (n - min_beyond) / n``. When that
    would not lie above the median (``n < 2 * min_beyond``), the maximum
    is returned with percentile 100, and the caller reports the sample
    count so the reader can see the tail rests on fewer samples."""
    n = len(samples)
    if n == 0:
        raise ValueError("tail of no samples")
    if n < 2 * min_beyond:
        return max(samples), 100.0, n
    q = 100.0 * (n - min_beyond) / n
    return percentile(samples, q), q, n


def median(samples: list[float]) -> float:
    return statistics.median(samples)


def covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    clipped = sorted((max(start, a), min(end, b)) for a, b in intervals if b > start and a < end)
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its child spans cover."""
    return (end - start) - covered(start, end, children)
