"""Percentiles, spreads and span self-time arithmetic (pure Python)."""

from __future__ import annotations

import math
from collections.abc import Sequence


def percentile(values: Sequence[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``
    percent of the samples at or below it. It is always an observed
    value, so a p90 over n samples has ``n - ceil(0.9 n)`` samples above
    it."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < p <= 100:
        raise ValueError("p must be in (0, 100]")
    ordered = sorted(values)
    rank = math.ceil(p / 100.0 * len(ordered))
    return ordered[max(rank, 1) - 1]


def tail_ok(n: int, p: float, min_beyond: int = 10) -> bool:
    """True when a ``p`` percentile over ``n`` samples has at least
    ``min_beyond`` samples above it."""
    return n - math.ceil(p / 100.0 * n) >= min_beyond


def self_times(spans: Sequence[dict]) -> list[float]:
    """Self time of every span: its duration minus the part of its
    interval covered by its direct children. Spans are dicts with
    ``start``, ``end`` and ``parent`` (index into ``spans`` or None);
    children of one parent never overlap (one thread)."""
    child = [0.0] * len(spans)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return [s["end"] - s["start"] - c for s, c in zip(spans, child)]
