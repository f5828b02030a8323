"""Order statistics and interval arithmetic for the benchmark."""

from __future__ import annotations

import math
from typing import Iterable, Optional, Sequence

# a percentile is reported only when at least this many samples lie
# beyond it; fewer and it is one or two outliers, not a tail
MIN_BEYOND = 10


def percentile(values: Sequence[float], q: float) -> float:
    """Nearest-rank ``q``-quantile (0 < q <= 1) of ``values``: the
    smallest sample with at least a share ``q`` of samples at or below
    it. Raises on an empty input."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0.0 < q <= 1.0:
        raise ValueError(f"q must be in (0, 1], got {q}")
    xs = sorted(values)
    return xs[max(0, math.ceil(q * len(xs)) - 1)]


def beyond(n: int, q: float) -> int:
    """Samples of ``n`` that lie strictly beyond the nearest rank of
    the ``q``-quantile."""
    return n - max(1, math.ceil(q * n))


def highest_reportable_percentile(n: int) -> Optional[float]:
    """The largest q in (0.5, 0.999] (in steps of 0.001) with at least
    :data:`MIN_BEYOND` of ``n`` samples beyond it — a p90 needs 100
    samples, a p99 1000; None when no percentile above the median
    qualifies."""
    best = None
    for m in range(501, 1000):
        if beyond(n, m / 1000.0) >= MIN_BEYOND:
            best = m / 1000.0
    return best


def median(values: Sequence[float]) -> float:
    """Midpoint median (mean of the two middle samples when even)."""
    if not values:
        raise ValueError("median of no samples")
    xs = sorted(values)
    n = len(xs)
    mid = n // 2
    return xs[mid] if n % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def round_at_medians(weights: dict[str, int], samples: dict[str, Sequence[float]]) -> float:
    """Latency of one round of a workload's operation mix with every
    operation at its class's median: sum over classes of the class's
    count in a round times the median of its samples. Each median is
    over the whole run, so one slow operation moves it little; each
    class moves the sum by its share of a round."""
    return sum(n * median(samples[c]) for c, n in weights.items())


def covered(
    start: float, end: float, intervals: Iterable[tuple[float, float]]
) -> float:
    """Length of [start, end] covered by the union of ``intervals``
    (each clipped to the window; overlaps counted once)."""
    clipped = sorted(
        (max(a, start), min(b, end)) for a, b in intervals if b > start and a < end
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(
    start: float, end: float, children: Iterable[tuple[float, float]]
) -> float:
    """A span's self time: its duration minus the part of its interval
    its child spans cover."""
    return (end - start) - covered(start, end, children)
