"""Summary statistics the benchmark reports."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10


def tail(samples: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """The highest percentile that has at least ``beyond`` samples above it.

    Returns (value, percentile, n). With n sorted samples the order statistic
    at rank n - beyond (1-based) has exactly ``beyond`` samples above it, so
    it is the (n - beyond) / n percentile. A tail is never reported below
    the median: with n < 2 * beyond the median is returned as p50.
    """
    n = len(samples)
    if n == 0:
        raise ValueError("no samples")
    if n < 2 * beyond:
        return statistics.median(samples), 50.0, n
    xs = sorted(samples)
    return xs[n - beyond - 1], 100.0 * (n - beyond) / n, n


def failure_counts(outcomes: list[str]) -> tuple[int, int]:
    """(attempted, failed) from per-op outcomes 'ok', 'error' or 'mismatch':
    an op that raised and an op whose answer disagrees with the oracle both
    count as failed."""
    return len(outcomes), sum(1 for o in outcomes if o != "ok")


def median_or_zero(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def mean_or_zero(values: list[float]) -> float:
    return sum(values) / len(values) if values else 0.0
