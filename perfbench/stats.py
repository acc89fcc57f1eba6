"""Order statistics used by the benchmark and its steadiness check."""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


def percentile(values, q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``q`` of
    the samples at or below it (no interpolation, so the result is always
    an observed value).

    Above the median the sample must support the rank: at least
    ``MIN_BEYOND`` samples must lie beyond it, so a p90 needs 100 samples.
    The median is always reported.
    """
    if not 0.0 < q <= 1.0:
        raise ValueError(f"percentile rank {q} outside (0, 1]")
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("percentile of an empty sample")
    rank = max(1, math.ceil(q * n))
    if q > 0.5 and n - rank < MIN_BEYOND:
        raise ValueError(
            f"p{q * 100:g} of {n} samples leaves {n - rank} beyond it; "
            f"{MIN_BEYOND} required"
        )
    return xs[rank - 1]


def quartile_spread(values) -> float:
    """Inter-quartile distance as a share of the median, with the quartiles
    from ``statistics.quantiles(values, n=4)`` (the steadiness rule)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med
