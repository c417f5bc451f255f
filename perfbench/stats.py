"""Order statistics for the benchmark's timings."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10  # samples that must lie beyond a reported tail percentile


def median(values: list[float]) -> float:
    return statistics.median(values)


def tail(values: list[float]) -> tuple[float, float, int] | None:
    """(value, percentile, n) of the highest percentile that still has at
    least ``TAIL_BEYOND`` samples beyond it, or None if the sample is too
    small to have one.  With sorted samples x[0..n-1], x[i] has n-1-i
    samples beyond it, so the pick is i = n-1-TAIL_BEYOND and its
    percentile is the share of samples at or below it."""
    n = len(values)
    i = n - 1 - TAIL_BEYOND
    if i < 0:
        return None
    return sorted(values)[i], 100.0 * (i + 1) / n, n

