"""Arithmetic the benchmark reports with: tail percentiles, span self
time and the part of a window covered by a set of intervals."""

from __future__ import annotations

import math
import statistics


def tail(values: list[float], beyond: int = 10) -> tuple[float, float, int] | None:
    """(percentile, value, n) for the highest whole percentile that leaves
    at least ``beyond`` samples above it, or None when there are too few
    samples to have one. The value is the nearest-rank sample."""
    n = len(values)
    if n <= beyond:
        return None
    ordered = sorted(values)
    # nearest rank r = ceil(p/100 * n) must leave n - r >= beyond samples
    p = math.floor(100 * (n - beyond) / n)
    while p > 0 and math.ceil(p / 100 * n) > n - beyond:
        p -= 1
    if p <= 0:
        return None
    return float(p), ordered[math.ceil(p / 100 * n) - 1], n


def median(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")


def geomean(values: list[float]) -> float:
    return statistics.geometric_mean(values) if values else float("nan")


def self_times(spans: list[tuple[float, float, int | None]]) -> list[float]:
    """Per span (start, end, parent index): its duration minus the part
    of its interval that its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for start, end, parent in spans:
        if parent is not None:
            children.setdefault(parent, []).append((start, end))
    out = []
    for i, (start, end, _) in enumerate(spans):
        kids = [(max(a, start), min(b, end)) for a, b in children.get(i, [])]
        out.append((end - start) - covered_time(kids))
    return out


def covered_time(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
