"""Order statistics used by the benchmark and its run summaries."""

from __future__ import annotations

import statistics


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with the quartiles ``statistics.quantiles(n=4)``
    gives (its default exclusive method): the run-to-run spread a metric's
    bound in BENCHMARK.json is checked against."""
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / median(values)


def worse_by(base: float, new: float, better: str) -> float:
    """How much worse ``new`` is than ``base``, as a share of ``base``
    (negative when it is better)."""
    return (new - base) / base if better == "lower" else (base - new) / base
