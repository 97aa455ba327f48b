"""Small statistics helpers: percentiles that state their sample count."""

from __future__ import annotations

import math
from collections.abc import Sequence

# A percentile is reported only when at least this many samples lie beyond
# it, so a tail figure is never read off one or two samples.
MIN_BEYOND = 10


class TooFewSamples(ValueError):
    """The sample cannot support the requested percentile."""


def percentile(samples: Sequence[float], q: float) -> tuple[float, int]:
    """Nearest-rank ``q``-th percentile (0 < q < 100) and the sample count.

    Refuses (raises ``TooFewSamples``) when fewer than ``MIN_BEYOND``
    samples lie above the percentile's rank."""
    if not 0 < q < 100:
        raise ValueError(f"percentile must be in (0, 100), got {q}")
    n = len(samples)
    rank = max(1, math.ceil(q / 100 * n))
    if n - rank < MIN_BEYOND:
        raise TooFewSamples(
            f"p{q:g} needs {MIN_BEYOND} samples beyond it; "
            f"{n} samples leave {max(n - rank, 0)}"
        )
    return sorted(samples)[rank - 1], n


def median(values: Sequence[float]) -> float:
    """Median of a non-empty sequence (mean of the middle pair if even)."""
    if not values:
        raise ValueError("median of an empty sequence")
    s = sorted(values)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def slope(points: Sequence[tuple[float, float]]) -> float:
    """Least-squares slope dy/dx through ``(x, y)`` points."""
    if len(points) < 2:
        raise ValueError("a slope needs at least two points")
    n = len(points)
    mx = sum(x for x, _ in points) / n
    my = sum(y for _, y in points) / n
    sxx = sum((x - mx) ** 2 for x, _ in points)
    if sxx == 0:
        raise ValueError("a slope needs two distinct x values")
    return sum((x - mx) * (y - my) for x, y in points) / sxx
