"""Summary statistics shared by the benchmark and its tests."""

from __future__ import annotations

import math
import re
import statistics

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
MIN_BEYOND = 10


def valid_metric_name(name: str) -> bool:
    return METRIC_NAME.fullmatch(name) is not None


def median(values) -> float:
    return float(statistics.median(values))


def spread(values) -> float:
    """Inter-quartile distance as a share of the median (0 for < 2 values)."""
    vals = list(values)
    if len(vals) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(vals, n=4)
    med = statistics.median(vals)
    return (q3 - q1) / med if med else 0.0


def tail(values, min_beyond: int = MIN_BEYOND) -> tuple[int, float]:
    """``(pct, value)`` for the highest whole percentile (at most 99) that
    still has at least ``min_beyond`` samples above its nearest rank.

    Falls back to ``(50, median)`` when the samples are too few for any
    percentile at or above the median to qualify, so the tail never reads
    below the median.
    """
    vals = sorted(values)
    n = len(vals)
    for pct in range(99, 49, -1):
        k = max(math.ceil(pct / 100 * n), 1)
        if n - k >= min_beyond:
            return pct, vals[k - 1]
    return 50, median(vals)
