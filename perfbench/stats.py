"""Summary statistics shared by the workloads and the spread checker."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10  # samples that must lie above a reported tail percentile


def median(values: list[float]) -> float:
    return statistics.median(values)


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest percentile that still has at
    least TAIL_BEYOND samples above it: the (TAIL_BEYOND + 1)-th largest
    sample. With n samples that is percentile 100 * (n - 10) / n, so 29
    samples give ~p66, 200 give p95. Raises when that percentile would not
    lie above the median (fewer than 2 * TAIL_BEYOND + 1 samples)."""
    n = len(values)
    if n <= 2 * TAIL_BEYOND:
        raise ValueError(f"a tail above the median needs more than {2 * TAIL_BEYOND} "
                         f"samples, got {n}")
    ordered = sorted(values)
    return 100.0 * (n - TAIL_BEYOND) / n, ordered[n - TAIL_BEYOND - 1]


def quartile_spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median (statistics.quantiles, n=4)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")
