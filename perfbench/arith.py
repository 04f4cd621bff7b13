"""Small arithmetic the benchmark's metrics rest on, kept free of Spark so
the unit tests in ``perfbench/tests`` can pin it."""

from __future__ import annotations

import statistics
from collections.abc import Iterable, Sequence


def median(values: Sequence[float]) -> float:
    """Median of ``values``; 0.0 for an empty sequence (a layer that
    never ran reports zero rather than failing the run)."""
    return float(statistics.median(values)) if values else 0.0


def quartile_spread(values: Sequence[float]) -> float:
    """(Q3 - Q1) / median, with the quartiles ``statistics.quantiles(n=4)``
    gives — the steadiness figure the benchmark is tuned against."""
    q1, mid, q3 = statistics.quantiles(values, n=4)
    return ratio(q3 - q1, statistics.median(values))


def ratio(num: float, den: float) -> float:
    """``num / den``, or 0.0 when the base is zero."""
    return num / den if den else 0.0


def union_length(intervals: Iterable[tuple[float, float]],
                 lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``intervals`` after clipping each to
    ``[lo, hi]``; overlapping intervals count once."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total = 0.0
    cur_a = cur_b = None
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


def self_time(span: dict, children: Iterable[dict]) -> float:
    """A span's duration minus the part of it its children cover."""
    covered = union_length(((c["start"], c["end"]) for c in children),
                           span["start"], span["end"])
    return (span["end"] - span["start"]) - covered


def innermost(spans: Sequence[dict], t: float) -> dict | None:
    """The innermost span open at time ``t``: among spans containing
    ``t``, the one that started last (spans on one thread nest)."""
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (best is None
                                             or s["start"] >= best["start"]):
            best = s
    return best
