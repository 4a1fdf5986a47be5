"""Order statistics used by the benchmark's metrics."""

from __future__ import annotations

import statistics

import numpy as np

# Candidate tail percentiles, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def mean(values: list[float]) -> float:
    if not values:
        raise ValueError("mean of no samples")
    return statistics.fmean(values)


def p50_by_kind(samples: list[tuple[str, float]]) -> dict[str, float]:
    """The median latency of each kind of operation in ``(kind,
    seconds)`` samples, kinds in first-seen order."""
    kinds: dict[str, list[float]] = {}
    for kind, d in samples:
        kinds.setdefault(kind, []).append(d)
    return {kind: median(ds) for kind, ds in kinds.items()}


def tail(values: list[float]) -> tuple[float, float] | None:
    """The highest percentile in ``TAIL_PERCENTILES`` that has at least
    ``MIN_BEYOND`` samples beyond it, as ``(value, percentile)``; None
    when the sample is too small for any of them (fewer than 20)."""
    n = len(values)
    for pct in TAIL_PERCENTILES:
        if n * (100.0 - pct) / 100.0 >= MIN_BEYOND - 1e-9:  # 100 - 99.9 is inexact
            return float(np.percentile(values, pct)), pct
    return None

