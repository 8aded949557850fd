"""Percentile and spread arithmetic shared by the workloads and the
spread check. Pure functions, so the unit tests pin them exactly."""

from __future__ import annotations

import math
import statistics


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (numpy's default method) of a
    non-empty sample, ``q`` in [0, 100]."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0.0 <= q <= 100.0:
        raise ValueError(f"percentile {q} outside [0, 100]")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def summarize(values: list[float]) -> dict:
    """Sample count, median and 90th percentile."""
    return {
        "n": len(values),
        "p50": percentile(values, 50.0),
        "p90": percentile(values, 90.0),
    }


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with the quartiles as
    ``statistics.quantiles(values, n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
