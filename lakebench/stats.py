"""Small statistics helpers: medians and the tail percentile rule.

A tail is reported as the highest percentile that still has at least
``MIN_BEYOND`` samples strictly above it, together with that percentile
and the sample count — a p99 over 40 samples is one sample, not a tail.
"""

from __future__ import annotations

import math
import statistics

# candidate percentiles, highest first
LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def nearest_rank(sorted_values: list[float], pct: float) -> float:
    """Nearest-rank percentile of an ascending list."""
    n = len(sorted_values)
    rank = max(1, math.ceil(pct / 100.0 * n))
    return sorted_values[rank - 1]


def tail(values: list[float]) -> dict | None:
    """``{"pct", "value", "beyond", "n"}`` for the highest percentile of
    ``LADDER`` with at least ``MIN_BEYOND`` samples strictly greater than
    its value, or None when even the median has fewer beyond it."""
    s = sorted(values)
    for pct in LADDER:
        v = nearest_rank(s, pct) if s else 0.0
        beyond = sum(1 for x in s if x > v)
        if s and beyond >= MIN_BEYOND:
            return {"pct": pct, "value": v, "beyond": beyond, "n": len(s)}
    return None
