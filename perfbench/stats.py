"""Summary statistics for per-operation latencies."""

from __future__ import annotations

import math
import statistics

# candidate tail percentiles, highest first
TAIL_PERCENTILES = (0.999, 0.99, 0.95, 0.9, 0.75, 0.5)
MIN_BEYOND = 10


def nearest_rank(values: list[float], p: float) -> float:
    """The value at rank ceil(p·n) of the sorted sample."""
    ordered = sorted(values)
    return ordered[max(math.ceil(p * len(ordered)), 1) - 1]


def tail(values: list[float]) -> dict | None:
    """The highest percentile with at least ``MIN_BEYOND`` samples
    beyond it, with its value and the sample count; None when the
    sample is too small for any (fewer than 20 values)."""
    n = len(values)
    for p in TAIL_PERCENTILES:
        if n - math.ceil(p * n) >= MIN_BEYOND:
            return {"p": p, "value": nearest_rank(values, p), "n": n}
    return None


def median(values: list[float]) -> float:
    return statistics.median(values)
