"""Aggregation of per-operation samples into reported metrics."""

from __future__ import annotations

import statistics


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with the quartiles `statistics.quantiles(n=4)`
    gives: the run-to-run spread a metric's bound is compared against."""
    if len(values) < 2:
        raise ValueError("spread needs at least two samples")
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}
