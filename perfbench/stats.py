"""Latency summary rule: a median, plus the highest percentile that
still has at least ten samples beyond it."""

from __future__ import annotations

import math
import statistics

#: Samples a tail percentile must leave beyond it.
MIN_BEYOND = 10


def tail_percentile(n: int, min_beyond: int = MIN_BEYOND) -> int | None:
    """Highest whole percentile ``p`` with at least ``min_beyond`` of
    ``n`` samples above the nearest-rank position of ``p``; ``None``
    when ``n`` is too small for any percentile above the median."""
    best = None
    for p in range(50, 100):
        rank = math.ceil(p / 100 * n)  # nearest-rank: 1-based position
        if n - rank >= min_beyond:
            best = p
    return best


def nearest_rank(sorted_values: list[float], p: int) -> float:
    return sorted_values[max(math.ceil(p / 100 * len(sorted_values)), 1) - 1]


def summarize(values: list[float]) -> dict[str, float]:
    """``{"p50", "tail", "tail_pct", "n"}``; the tail falls back to the
    maximum (``tail_pct`` 100) when there are too few samples."""
    s = sorted(values)
    pct = tail_percentile(len(s))
    return {
        "p50": statistics.median(s),
        "tail": nearest_rank(s, pct) if pct is not None else s[-1],
        "tail_pct": pct if pct is not None else 100,
        "n": len(s),
    }
