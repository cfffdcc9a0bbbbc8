"""Summary statistics the benchmark reports: medians and quartiles."""

from __future__ import annotations

import statistics
from typing import Dict, Sequence


def quartiles(values: Sequence[float]):
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives
    them; a single value is its own quartiles."""
    if not values:
        raise ValueError("no values")
    if len(values) == 1:
        v = float(values[0])
        return v, v, v
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def summary(values: Sequence[float]) -> Dict[str, float]:
    q1, _, q3 = quartiles(values)
    return {
        "n": len(values),
        "median": statistics.median(values),
        "q1": q1,
        "q3": q3,
        "min": min(values),
        "max": max(values),
    }

