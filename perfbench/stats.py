"""Order statistics the benchmark reports.

Percentiles use the nearest-rank rule, so a reported value is always one
that was measured and the number of samples beyond it is exact: with ``n``
samples, ``percentile(values, q)`` is the ``ceil(q * n)``-th smallest, and
``n - ceil(q * n)`` samples lie beyond it.
"""

from __future__ import annotations

import math
import statistics

# A tail percentile is trusted only with at least this many samples beyond it.
MIN_TAIL = 10


def geomean(values: list[float]) -> float:
    """Geometric mean of positive values: every value weighs the same
    whatever its magnitude, so one slow query cannot dominate."""
    if not values or min(values) <= 0:
        raise ValueError("geomean needs at least one value, all positive")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def _rank(n: int, q: float) -> int:
    """1-based nearest rank of quantile ``q`` among ``n`` samples."""
    if n < 1 or not 0.0 < q <= 1.0:
        raise ValueError("need n >= 1 and 0 < q <= 1")
    # round() first: 0.9 * 100 is 90.00000000000001 in binary floating point
    return max(1, math.ceil(round(q * n, 9)))


def percentile(values: list[float], q: float) -> float:
    return sorted(values)[_rank(len(values), q) - 1]


def n_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie beyond the nearest-rank ``q`` quantile."""
    return n - _rank(n, q)


def min_samples(q: float, tail: int = MIN_TAIL) -> int:
    """Smallest sample count whose ``q`` quantile has ``tail`` samples beyond."""
    n = tail
    while n_beyond(n, q) < tail:
        n += 1
    return n


def spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median, with the quartiles ``statistics.quantiles(values, n=4)`` gives."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
