"""Sample statistics the benchmark reports, in pure Python.

- ``median`` of a sample list;
- ``tail`` — the highest percentile of a fixed ladder that still has
  at least ``MIN_BEYOND`` samples above it (a p99 of 50 samples is a
  maximum, not a percentile);
- ``spread`` — interquartile range over median, as the acceptance
  check computes it;
- ``regressed`` — the bound check: did a metric get worse than its
  parent's median by more than ``bound`` (a share of that median)?
"""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10
PERCENTILE_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p%
    of the samples at or below it."""
    if not xs:
        raise ValueError("percentile of no samples")
    s = sorted(xs)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def tail(xs: list[float], min_beyond: int = MIN_BEYOND) -> tuple[float, float] | None:
    """(p, value) for the highest ladder percentile that leaves at least
    ``min_beyond`` samples strictly above the reported value; None when
    the sample is too small for any of them."""
    for p in PERCENTILE_LADDER:
        v = percentile(xs, p)
        if sum(1 for x in xs if x > v) >= min_beyond:
            return p, v
    return None


def spread(xs: list[float]) -> float:
    """(Q3 - Q1) / median, quartiles as ``statistics.quantiles(n=4)``."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / q2


def regressed(parent: list[float], child: list[float], bound: float,
              better: str = "lower") -> bool:
    """True when the child's median is worse than the parent's median by
    more than ``bound`` times the parent's median."""
    if better not in ("lower", "higher"):
        raise ValueError(f"better must be 'lower' or 'higher', not {better!r}")
    p, c = median(parent), median(child)
    worse_by = (c - p) if better == "lower" else (p - c)
    return worse_by > bound * abs(p)
