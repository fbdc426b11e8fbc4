"""Summary statistics the benchmark reports: medians and the tail rule."""

from __future__ import annotations

import statistics

#: a tail percentile must have at least this many samples ranked above it
TAIL_MIN_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def tail(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) at the highest percentile that still has at
    least ``TAIL_MIN_BEYOND`` samples ranked above it, or None when
    there are too few samples for any such percentile.

    With n sorted samples, the sample at 0-based rank r has n - 1 - r
    samples above it, so the highest admissible rank is
    n - 1 - TAIL_MIN_BEYOND; its percentile is 100 * (r + 1) / n (the
    share of samples at or below it)."""
    n = len(values)
    r = n - 1 - TAIL_MIN_BEYOND
    if r < 0:
        return None
    ordered = sorted(values)
    return 100.0 * (r + 1) / n, float(ordered[r])
