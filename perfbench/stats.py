"""Summary statistics for benchmark samples.

Timings are reported as a median plus the highest percentile that still
has at least ten samples beyond it, so a tail figure is never read off a
handful of points.
"""

from __future__ import annotations

import math

#: percentiles a tail figure may be reported at, highest first
TAIL_LEVELS = (99.9, 99, 95, 90, 80, 75)
MIN_BEYOND = 10


def tail_level(n: int) -> float | None:
    """Highest percentile in :data:`TAIL_LEVELS` that leaves at least
    ``MIN_BEYOND`` of ``n`` samples strictly above its rank, or None
    when ``n`` is too small for any of them."""
    for p in TAIL_LEVELS:
        if n - math.ceil(n * p / 100.0) >= MIN_BEYOND:
            return p
    return None


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (the sample at rank ceil(p/100 * n))."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(len(ordered) * p / 100.0))
    return ordered[rank - 1]


def tail(values: list[float]) -> tuple[float, float] | None:
    """(level, value) of the reportable tail percentile, or None."""
    level = tail_level(len(values))
    return None if level is None else (level, percentile(values, level))
