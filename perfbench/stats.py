"""The benchmark's arithmetic: percentiles, the tail rule, self time, error rate.

Kept free of Spark so it can be tested on its own
(``python3 -m pytest perfbench/tests``).
"""

from __future__ import annotations

import math
from collections.abc import Iterable, Sequence

#: A tail percentile is reported only where at least this many samples
#: lie beyond it.
MIN_BEYOND = 10


def nearest_rank(values: Sequence[float], p: float) -> float:
    """The ``p``-quantile (0 < p <= 1) by the nearest-rank rule: the
    smallest sample with at least a share ``p`` of samples at or below it."""
    if not values:
        raise ValueError("no samples")
    if not 0.0 < p <= 1.0:
        raise ValueError(f"percentile {p} outside (0, 1]")
    ordered = sorted(values)
    return ordered[max(1, math.ceil(p * len(ordered) - 1e-9)) - 1]


def beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie beyond the nearest-rank ``p`` sample."""
    return n - max(1, math.ceil(p * n - 1e-9))


def min_samples(p: float, min_beyond: int = MIN_BEYOND) -> int:
    """Smallest sample count for which ``p`` has ``min_beyond`` samples beyond it."""
    if not 0.0 < p < 1.0:
        raise ValueError(f"tail percentile {p} outside (0, 1)")
    n = min_beyond + 1
    while beyond(n, p) < min_beyond:
        n += 1
    return n


def tail(values: Sequence[float], p: float, min_beyond: int = MIN_BEYOND) -> float:
    """The ``p`` tail latency, refusing a percentile the sample cannot support."""
    if beyond(len(values), p) < min_beyond:
        raise ValueError(
            f"p{p * 100:g} of {len(values)} samples has fewer than {min_beyond} beyond it"
        )
    return nearest_rank(values, p)


def error_rate(failed: int, attempted: int) -> float:
    """(exceptions + output mismatches) / queries attempted."""
    if attempted < 1:
        raise ValueError("no query was attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"{failed} failures out of {attempted} attempts")
    return failed / attempted


def union_length(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    covered, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    return covered


def self_times(spans: Sequence[tuple[int, int | None, float, float]]) -> dict[int, float]:
    """Self time of each span ``(id, parent, start, end)``: its duration
    minus the part of its interval that its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for _sid, parent, start, end in spans:
        if parent is not None:
            children.setdefault(parent, []).append((start, end))
    return {
        sid: (end - start) - union_length(children.get(sid, ()), start, end)
        for sid, _parent, start, end in spans
    }
