"""Order statistics for the benchmark's reports.

A percentile is only reported when at least ``MIN_BEYOND`` samples lie
beyond it; with fewer, a single slow op would decide the value.
"""

from __future__ import annotations

import math
import re
import statistics

MIN_BEYOND = 10
# Tail percentiles tried from the highest down; the first one the sample
# count supports is the run's tail.
TAIL_LADDER = (99.0, 95.0, 90.0, 75.0)
METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")


class TooFewSamples(ValueError):
    """Raised when a percentile has fewer than MIN_BEYOND samples beyond it."""


def samples_beyond(n: int, p: float) -> int:
    """How many of n sorted samples lie strictly above the p-th percentile's
    rank (the nearest-rank definition: rank = ceil(p/100 * n))."""
    if n <= 0:
        return 0
    return n - max(1, math.ceil(p / 100.0 * n))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank p-th percentile; raises TooFewSamples unless at least
    MIN_BEYOND samples lie beyond it. p=50 is exempt: the median is always
    reported, with its sample count."""
    n = len(values)
    if n == 0:
        raise TooFewSamples("no samples")
    if p != 50.0 and samples_beyond(n, p) < MIN_BEYOND:
        raise TooFewSamples(
            f"p{p:g} of {n} samples has {samples_beyond(n, p)} beyond it, "
            f"needs {MIN_BEYOND}"
        )
    if p == 50.0:
        return statistics.median(values)
    ordered = sorted(values)
    return ordered[max(1, math.ceil(p / 100.0 * n)) - 1]


def tail(values: list[float]) -> tuple[float, float] | None:
    """(p, value) for the highest percentile in TAIL_LADDER the sample count
    supports, or None when even the lowest rung lacks MIN_BEYOND samples."""
    for p in TAIL_LADDER:
        if samples_beyond(len(values), p) >= MIN_BEYOND:
            return p, percentile(values, p)
    return None


def valid_metric_name(name: str) -> bool:
    return bool(METRIC_NAME.fullmatch(name)) and len(name) <= 64 and name[0].isalnum()
