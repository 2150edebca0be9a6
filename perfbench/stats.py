"""Summary statistics with the benchmark's reporting rule: timings are
reported as medians, and a tail percentile only where at least ten samples
lie beyond it."""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


def median(samples: list[float]) -> float:
    return statistics.median(samples)


def tail(samples: list[float], q: float) -> float | None:
    """The nearest-rank ``q``-quantile of ``samples``, or None when fewer
    than ``MIN_BEYOND`` samples lie above it."""
    s = sorted(samples)
    k = max(0, math.ceil(q * len(s)) - 1)
    if len(s) - 1 - k < MIN_BEYOND:
        return None
    return s[k]
