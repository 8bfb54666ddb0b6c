"""Summary statistics for benchmark samples."""

from __future__ import annotations

import math
import statistics

# a tail percentile is reported only when this many samples lie beyond it
MIN_BEYOND = 10


def percentile(samples: list[float], q: float) -> float:
    """Nearest-rank ``q``-th percentile (0 < q <= 100) of ``samples``."""
    if not samples:
        raise ValueError("percentile of no samples")
    s = sorted(samples)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


def tail_percentile(samples: list[float], q: float) -> float | None:
    """The ``q``-th percentile, or None when fewer than ``MIN_BEYOND``
    samples lie strictly beyond it (too few to place it)."""
    if not samples:
        return None
    v = percentile(samples, q)
    return v if sum(x > v for x in samples) >= MIN_BEYOND else None


def median(samples: list[float]) -> float | None:
    return statistics.median(samples) if samples else None
