"""Summary statistics the benchmark reports."""

from __future__ import annotations

MIN_BEYOND = 10


def tail(values: list[float], min_beyond: int = MIN_BEYOND) -> tuple[float, float, int] | None:
    """The highest percentile that has at least ``min_beyond`` samples
    above it, as ``(value, percentile, n)``; ``None`` when the sample is
    too small to have one.

    Nearest-rank: the value at 1-based rank ``r`` of the sorted sample is
    the ``100 * r / n`` percentile, and ``n - r`` samples lie beyond it,
    so the highest admissible rank is ``n - min_beyond``."""
    n = len(values)
    rank = n - min_beyond
    if rank < 1:
        return None
    return sorted(values)[rank - 1], 100.0 * rank / n, n

