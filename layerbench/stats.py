"""Pure statistics: percentiles, the per-class geometric mean, the tail
rule and run-to-run spread."""

from __future__ import annotations

import math
import statistics

# a tail percentile is reported only with at least this many samples
# beyond it (p90 needs 100 samples in each class)
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default rule)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_supported(n: int, p: float) -> bool:
    """True when ``n`` samples leave at least MIN_BEYOND beyond pXX.
    The median is always reported; this gates the tail percentiles."""
    return n * (100.0 - p) / 100.0 >= MIN_BEYOND


def class_geomean(samples: dict[str, list[float]], p: float) -> float:
    """Percentile within each class, then the geometric mean across
    classes. A pooled percentile sits on the gap between class clusters
    and jumps across it when the class counts shift by one; this does
    not."""
    per_class = [percentile(v, p) for v in samples.values() if v]
    if not per_class:
        raise ValueError("no samples in any class")
    return math.exp(sum(math.log(x) for x in per_class) / len(per_class))


def class_tail_supported(samples: dict[str, list[float]], p: float) -> bool:
    return all(tail_supported(len(v), p) for v in samples.values())


def spread(values: list[float]) -> dict:
    """Median, quartiles and the interquartile range as a share of the
    median — the steadiness figure a bound is checked against."""
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = values[0]
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf")}
