"""Sample summaries reported by the benchmark."""

from __future__ import annotations

import statistics

# A tail percentile is reported only when at least this many samples lie
# beyond it; fewer make it a single outlier, not a percentile.
MIN_TAIL_SAMPLES = 10
TAIL_LEVELS = (99.9, 99.0, 90.0)  # percent, at most one decimal


def median(samples: list[float]) -> float:
    if not samples:
        raise ValueError("median of no samples")
    return float(statistics.median(samples))


def tail_level(n: int) -> float | None:
    """Highest of ``TAIL_LEVELS`` with ``MIN_TAIL_SAMPLES`` samples beyond
    it in a sample of ``n``, or None when ``n`` supports none."""
    for level in TAIL_LEVELS:
        # in tenths of a percent, so 99.9 is exact
        if n * (1000 - round(level * 10)) >= MIN_TAIL_SAMPLES * 1000:
            return level
    return None


def summarize(samples: list[float]) -> dict:
    """Median, sample count and, when the count supports one, the tail
    percentile (nearest-rank) with its level."""
    out = {"n": len(samples), "p50": median(samples)}
    level = tail_level(len(samples))
    if level is not None:
        ranked = sorted(samples)
        rank = max(1, -(-len(ranked) * level // 100))  # ceil
        out["tail"] = (level, ranked[int(rank) - 1])
    return out

