"""Order statistics used by the benchmark's reports."""

from __future__ import annotations

import statistics

# candidate tail percentiles, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def rank(pct: float, n: int) -> int:
    """1-based nearest rank of percentile ``pct`` (at most one decimal)
    among ``n`` samples: ceil(pct * n / 100), in exact integer arithmetic."""
    return max(1, -(-round(pct * 10) * n // 1000))


def nearest_rank(values: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``pct`` percent of the samples at or below it."""
    if not values:
        raise ValueError("nearest_rank of no samples")
    return sorted(values)[rank(pct, len(values)) - 1]


def tail_percentile(n: int, min_beyond: int = MIN_BEYOND) -> float | None:
    """The highest percentile of ``TAIL_LADDER`` that leaves at least
    ``min_beyond`` of ``n`` samples strictly above its rank, or None
    when even the median leaves fewer."""
    for pct in TAIL_LADDER:
        if n - rank(pct, n) >= min_beyond:
            return pct
    return None


def summarize(values: list[float]) -> dict:
    """Median, sample count and the tail percentile that the sample
    count supports. A failed operation is passed in as ``math.inf``, so
    it can only raise the tail."""
    n = len(values)
    out: dict = {"n": n, "median": statistics.median(values) if values else None}
    pct = tail_percentile(n)
    out["tail_pct"] = pct
    out["tail"] = nearest_rank(values, pct) if pct is not None else None
    return out
