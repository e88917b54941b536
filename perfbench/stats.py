"""Small statistics helpers: the highest-supported-percentile rule,
nearest-rank percentiles and span self-time."""

from __future__ import annotations

import math

# Percentiles the benchmark may report, lowest first.
PERCENTILES = (50.0, 90.0, 99.0, 99.9)


def highest_supported_percentile(n: int, tail: int = 10) -> float | None:
    """The highest of ``PERCENTILES`` that ``n`` samples support: one with at
    least ``tail`` samples beyond it, i.e. n * (1 - p/100) >= tail. None
    when even the median is unsupported (n < 2 * tail)."""
    best = None
    for p in PERCENTILES:
        if n * (1.0 - p / 100.0) >= tail - 1e-9:
            best = p
    return best


def percentile(values, p: float) -> float:
    """Nearest-rank percentile (the sample at rank ceil(p/100 * n))."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def union_length(intervals) -> float:
    """Total length covered by (start, end) intervals, overlaps counted once."""
    total, end = 0.0, -math.inf
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def self_times(spans) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its interval
    that its direct children cover (overlapping children count once, and a
    child is clipped to its parent's interval).

    ``spans`` is an iterable of objects with ``id``, ``parent``, ``start``
    and ``end``."""
    spans = list(spans)
    children: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.id, ())
            if min(c.end, s.end) > max(c.start, s.start)
        )
        out[s.id] = (s.end - s.start) - covered
    return out
