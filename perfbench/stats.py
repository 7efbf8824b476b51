"""Order statistics shared by the benchmark and its steadiness check."""

from __future__ import annotations

import math
import statistics

#: percentiles a tail may be reported at, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile of ``values`` at ``q`` in [0, 1]."""
    if not values:
        raise ValueError("quantile of an empty sample")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values: list[float]) -> tuple[float, float, int]:
    """``(value, percentile, n)``: the highest ladder percentile with at
    least ten operations beyond it. A short run cannot have ten beyond
    any percentile, so the requirement shrinks to a quarter of the
    sample (at least one operation), which reports the median for
    three or fewer operations."""
    n = len(values)
    beyond = max(1, min(10, n // 4))
    for pct in TAIL_LADDER:
        if n * (1.0 - pct / 100.0) >= beyond - 1e-9:
            return quantile(values, pct / 100.0), pct, n
    return quantile(values, 0.5), 50.0, n


def spread(values: list[float]) -> dict[str, float]:
    """Median, quartiles and quartile distance over median, with the
    quartiles exactly as ``statistics.quantiles(values, n=4)`` gives
    them."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "iqr_share": (q3 - q1) / med if med else math.inf,
    }
