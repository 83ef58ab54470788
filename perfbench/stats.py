"""Summary statistics the benchmark reports."""

from __future__ import annotations

import statistics

MIN_BEYOND = 10  # a tail percentile needs at least this many samples past it


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def tail_percentile(n: int, min_beyond: int = MIN_BEYOND) -> float:
    """The highest percentile with at least ``min_beyond`` of ``n`` samples
    beyond it: ``100 * (n - min_beyond) / n``. Below ``2 * min_beyond``
    samples that falls under the median, so the tail is reported at the
    50th percentile (the median) instead."""
    if n < 2 * min_beyond:
        return 50.0
    return 100.0 * (n - min_beyond) / n


def tail(values: list[float], min_beyond: int = MIN_BEYOND) -> tuple[float, float]:
    """``(value, percentile)`` of the tail: the sample with exactly
    ``min_beyond`` samples ranked above it, or the median below
    ``2 * min_beyond`` samples."""
    n = len(values)
    if n < 2 * min_beyond:
        return median(values), 50.0
    return sorted(values)[n - min_beyond - 1], tail_percentile(n, min_beyond)
