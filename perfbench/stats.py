"""Small statistics helpers shared by the benchmark and its report."""

from __future__ import annotations

import math


def tail_percentile(values: list[float], beyond: int = 10) -> tuple[int, float] | None:
    """The highest whole percentile ``p`` with at least ``beyond`` samples
    above its value, and that value (nearest-rank). ``None`` when there
    are too few samples for any percentile to leave ``beyond`` behind.

    With 54 samples this is p81: the nearest-rank p81 is the 44th value,
    which leaves ten samples beyond it.
    """
    n = len(values)
    if n <= beyond:
        return None
    ordered = sorted(values)
    for p in range(99, 0, -1):
        rank = max(1, math.ceil(p / 100 * n))
        if n - rank >= beyond:
            return p, ordered[rank - 1]
    return None


def covered(interval: tuple[float, float], parts: list[tuple[float, float]]) -> float:
    """Length of ``interval`` covered by the union of ``parts``."""
    lo, hi = interval
    clipped = sorted((max(lo, a), min(hi, b)) for a, b in parts if b > lo and a < hi)
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


def self_time(interval: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of its interval its children cover."""
    return (interval[1] - interval[0]) - covered(interval, children)
