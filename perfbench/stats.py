"""Order statistics shared by every workload."""

from __future__ import annotations

import math
import statistics

# Candidate tail percentiles, highest first.
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values: list[float]) -> dict:
    """The highest candidate percentile with at least ten samples
    strictly above it. With fewer than twenty samples no percentile
    qualifies and the median stands in; ``beyond`` then says how thin
    the evidence is."""
    xs = sorted(values)
    n = len(xs)
    for p in TAIL_CANDIDATES:
        v = percentile(xs, p)
        beyond = sum(1 for x in xs if x > v)
        if beyond >= MIN_BEYOND:
            return {"value": v, "percentile": p, "samples": n,
                    "beyond": beyond}
    v = percentile(xs, 50.0)
    return {"value": v, "percentile": 50.0, "samples": n,
            "beyond": sum(1 for x in xs if x > v)}


def geomean(values: list[float]) -> float:
    if not values or min(values) <= 0:
        raise ValueError("geometric mean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def kind_medians(samples: dict[str, list[float]]) -> dict[str, float]:
    return {k: statistics.median(v) for k, v in samples.items() if v}


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
