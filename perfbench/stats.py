"""Order statistics used for every reported timing."""

from __future__ import annotations

import statistics


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def tail(xs: list[float]) -> tuple[float, float]:
    """Nearest-rank p90 as ``(value, percentile of its rank)``. A run holds
    2 or 3 ingest and 12 query samples, so at most one or two lie beyond
    it: ten samples beyond a p90 would take a hundred."""
    s = sorted(xs)
    k = max(1, -(-9 * len(s) // 10))  # 1-based rank
    return float(s[k - 1]), 100.0 * k / len(s)
