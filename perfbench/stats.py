"""Order statistics for the benchmark's timings."""

from __future__ import annotations

import numpy as np


def median(values: list[float]) -> float:
    return float(np.median(values))


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples) for the highest percentile that leaves
    at least ten samples beyond it: q = 1 - 10/n. Below twenty samples no
    percentile above the median qualifies, so the median is reported and
    labelled as such."""
    n = len(values)
    q = max(0.5, 1.0 - 10.0 / n)
    return float(np.quantile(values, q)), round(100 * q, 1), n
