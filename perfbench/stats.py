"""Summary statistics for the benchmark's timing samples."""

from __future__ import annotations

import math
import statistics

TAIL_BEYOND = 10  # samples that must lie beyond a reported tail percentile


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile p whose nearest-rank value leaves at least
    ``TAIL_BEYOND`` samples above it; None when that p is below the median
    (fewer than 2 * TAIL_BEYOND samples), where it would be no tail.

    The nearest-rank p-th percentile of n sorted samples is the sample at
    rank ceil(p * n / 100); the samples beyond it number n - rank."""
    if n < 2 * TAIL_BEYOND:
        return None
    p = (100 * (n - TAIL_BEYOND)) // n
    while n - math.ceil(p * n / 100) < TAIL_BEYOND:
        p -= 1
    return p


def nearest_rank(values: list[float], p: int) -> float:
    ordered = sorted(values)
    rank = max(1, math.ceil(p * len(ordered) / 100))
    return ordered[rank - 1]


def summarize(values: list[float]) -> dict:
    """Median, tail percentile and sample count of one timing series."""
    if not values:
        raise ValueError("no samples to summarize")
    p = tail_percentile(len(values))
    return {
        "p50": statistics.median(values),
        "tail_pct": p,
        "tail": nearest_rank(values, p) if p is not None else None,
        "n": len(values),
    }


def describe(name: str, values: list[float], unit: str = "s") -> str:
    """One report line: median plus the supported tail, with its count."""
    s = summarize(values)
    tail = (
        f"p{s['tail_pct']} {s['tail']:.4f} {unit}"
        if s["tail_pct"] is not None
        else f"no tail (needs {2 * TAIL_BEYOND} samples)"
    )
    return f"{name}: p50 {s['p50']:.4f} {unit}, {tail}, n={s['n']}"
