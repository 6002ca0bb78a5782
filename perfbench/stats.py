"""Order statistics used by every workload."""

from __future__ import annotations

import math
import statistics


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def tail(values) -> tuple[float, float, int]:
    """The highest percentile with at least 10 samples beyond it:
    ``(value, percentile, n)``. With 10 or fewer samples it is the
    maximum, at percentile 100."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= 10:
        return float(xs[-1]), 100.0, n
    k = n - 11
    return float(xs[k]), 100.0 * (k + 1) / n, n


def geomean(values) -> float:
    xs = [v for v in values if v > 0]
    return math.exp(sum(math.log(v) for v in xs) / len(xs)) if xs else 0.0
