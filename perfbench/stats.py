"""Percentiles that carry their sample count, and the run-to-run spread."""

from __future__ import annotations

import statistics
from typing import NamedTuple, Sequence


class Pct(NamedTuple):
    value: float
    n: int  # samples the percentile was taken over
    q: int  # the percentile, 1..99


def pct(values: Sequence[float], q: int) -> Pct:
    """The ``q``-th percentile of ``values`` (linear interpolation between
    closest ranks, as ``statistics.quantiles(method="inclusive")``).

    Raises ValueError on an empty sample rather than inventing a number."""
    if not 1 <= q <= 99:
        raise ValueError(f"percentile {q} outside 1..99")
    vals = list(values)
    if not vals:
        raise ValueError("percentile of an empty sample")
    if len(vals) == 1:
        return Pct(float(vals[0]), 1, q)
    return Pct(statistics.quantiles(vals, n=100, method="inclusive")[q - 1], len(vals), q)


def spread(values: Sequence[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median — the run-to-run stability figure the benchmark is tuned by."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")
