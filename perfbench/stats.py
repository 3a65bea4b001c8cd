"""Order statistics used by every workload."""

from __future__ import annotations

import math
import statistics

# Candidate tail percentiles, highest first.
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
# A tail percentile needs at least this many samples above it.
TAIL_MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = math.ceil(k)
    if lo == hi:
        return xs[lo]
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n: int) -> float:
    """The highest candidate percentile with at least ``TAIL_MIN_BEYOND``
    of ``n`` samples beyond it. Below 40 samples no percentile above the
    median qualifies (p75 needs 40), and the median is used."""
    for p in TAIL_CANDIDATES:
        # rounded: 1 - 0.9 is a little under 0.1 in binary
        if round(n * (100.0 - p) / 100.0, 6) >= TAIL_MIN_BEYOND:
            return p
    return 50.0


def median(values: list[float]) -> float:
    return statistics.median(values)


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(max(v, 1e-9)) for v in values) / len(values))
