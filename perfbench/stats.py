"""Summary statistics for the benchmark's latency samples."""

from __future__ import annotations

import math
import statistics
from collections.abc import Sequence

# A tail percentile must leave at least this many samples above it.
TAIL_MIN_ABOVE = 10


def percentile(values: Sequence[float], p: float) -> float:
    """Linear-interpolation percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n: int) -> int:
    """The highest whole percentile that leaves at least
    ``TAIL_MIN_ABOVE`` of ``n`` samples above it, never below the
    median: with fewer than ``2 * TAIL_MIN_ABOVE`` samples no percentile
    above the median qualifies, and the tail is reported as p50."""
    if n <= 0:
        raise ValueError("tail of no samples")
    p = math.floor(100.0 * (1.0 - TAIL_MIN_ABOVE / n))
    return max(50, p)


def geomean(values: Sequence[float]) -> float:
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive samples")
    return math.exp(statistics.fmean(math.log(v) for v in values))


def summarize_latencies(latencies: Sequence[float]) -> dict:
    """Median, tail and geometric mean of operation latencies, with the
    tail's percentile and the sample count."""
    p = tail_percentile(len(latencies))
    return {
        "op_p50_s": statistics.median(latencies),
        "op_tail_s": percentile(latencies, p),
        "tail_percentile": p,
        "geomean_s": geomean(latencies),
        "samples": len(latencies),
    }
