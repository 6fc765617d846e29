"""Order statistics used by every workload report."""

from __future__ import annotations

import math
import statistics


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``p`` percent of the samples at or below it."""
    if not samples:
        raise ValueError("percentile of no samples")
    xs = sorted(samples)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """The highest whole percentile that leaves at least ``beyond``
    samples above its nearest-rank position, or None when ``n`` is too
    small for any percentile from 50 up."""
    for p in range(99, 49, -1):
        if n - math.ceil(p / 100.0 * n) >= beyond:
            return p
    return None


def tail(samples: list[float]) -> tuple[int, float]:
    """``(percentile, value)`` of the tail rule.  With fewer than 20
    samples no percentile from 50 up has ten samples beyond it; the
    slowest sample stands in (reported as percentile 100)."""
    p = tail_percentile(len(samples))
    if p is None:
        return 100, max(samples)
    return p, percentile(samples, p)


def median(samples: list[float]) -> float:
    return statistics.median(samples)
