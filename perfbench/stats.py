"""Order statistics used by the benchmark's metrics."""

from __future__ import annotations

import math

#: A tail percentile is reported only where at least this many samples
#: lie beyond it.
TAIL_BEYOND = 10

#: Operation samples every untraced run takes at least, so that the tail
#: percentile (at least p60) lies above the median rather than on it.
MIN_SAMPLES = 25


def tail_percentile(n: int) -> float:
    """Highest percentile of ``n`` samples with ``TAIL_BEYOND`` samples above it.

    With nearest-rank selection the value at rank ``k`` (1-based, sorted
    ascending) leaves ``n - k`` samples beyond it, so the highest usable
    rank is ``n - TAIL_BEYOND`` and the percentile is ``100 * k / n``.
    """
    if n <= TAIL_BEYOND:
        raise ValueError(f"{n} samples cannot support a tail with {TAIL_BEYOND} beyond it")
    return 100.0 * (n - TAIL_BEYOND) / n


def nearest_rank(values: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest value with ``pct``% at or below it."""
    xs = sorted(values)
    k = max(1, math.ceil(pct / 100.0 * len(xs) - 1e-9))
    return xs[k - 1]


def min_passes(ops_per_pass: int) -> int:
    """Fewest passes that give ``MIN_SAMPLES`` operation latencies."""
    return math.ceil(MIN_SAMPLES / ops_per_pass)
