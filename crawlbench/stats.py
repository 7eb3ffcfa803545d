"""Summary statistics the benchmark reports (no Spark import)."""

from __future__ import annotations

import math
import statistics

# Percentiles tried for the tail figure, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_ABOVE = 10


def nearest_rank(sorted_values: list[float], p: float) -> tuple[float, int]:
    """The nearest-rank ``p``-th percentile of already sorted values, and
    how many samples rank above it."""
    rank = max(1, math.ceil(p / 100.0 * len(sorted_values)))
    return sorted_values[rank - 1], len(sorted_values) - rank


def tail_percentile(samples: list[float], min_above: int = MIN_ABOVE):
    """The highest percentile in ``TAIL_PERCENTILES`` with at least
    ``min_above`` samples above it, as ``(p, value, n_samples)``; ``None``
    when even the 75th has fewer."""
    values = sorted(samples)
    for p in TAIL_PERCENTILES:
        value, above = nearest_rank(values, p)
        if above >= min_above:
            return p, value, len(values)
    return None


def quartile_spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median (``statistics.quantiles`` with n=4)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
