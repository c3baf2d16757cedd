"""Span arithmetic for the benchmark: percentiles with a sample-count rule,
interval unions, and per-layer self time.

A span is ``(name, start, end, parent)`` in seconds since the epoch.  A
layer's self time is its span's duration minus the part of that interval
its child spans cover; child spans are clipped to the parent first, and
overlapping siblings count once, so a request's self times over all its
layers add up to its wall exactly.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

# a percentile is reported only when at least this many samples lie beyond it
TAIL_SAMPLES = 10


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank ``q``-th percentile (0 < q <= 100) of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(ordered)))
    return ordered[rank - 1]


def tail_percentile(values: list[float], q: float) -> float | None:
    """``percentile(values, q)`` when at least ``TAIL_SAMPLES`` samples lie
    beyond it, else ``None`` (too few samples to say anything about it)."""
    beyond = len(values) - max(1, math.ceil(q / 100.0 * len(values)))
    return percentile(values, q) if beyond >= TAIL_SAMPLES else None


def median(values: list[float]) -> float:
    ordered = sorted(values)
    n = len(ordered)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return ordered[mid] if n % 2 else (ordered[mid - 1] + ordered[mid]) / 2.0


def union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """Merge overlapping or touching ``(start, end)`` intervals."""
    merged: list[tuple[float, float]] = []
    for start, end in sorted(i for i in intervals if i[1] > i[0]):
        if merged and start <= merged[-1][1]:
            merged[-1] = (merged[-1][0], max(merged[-1][1], end))
        else:
            merged.append((start, end))
    return merged


def covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    return sum(end - start for start, end in union(intervals))


def clip(interval: tuple[float, float], bounds: tuple[float, float]) -> tuple[float, float]:
    start, end = max(interval[0], bounds[0]), min(interval[1], bounds[1])
    return (start, max(start, end))


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None = None  # index into the owning Trace's spans
    attrs: dict = field(default_factory=dict)


@dataclass
class Trace:
    """In-memory spans of one run; written out only when the run ends."""

    spans: list[Span] = field(default_factory=list)

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        self.spans.append(Span(name, start, end, parent, attrs))
        return len(self.spans) - 1

    def self_times(self, root: int) -> dict[str, float]:
        """Self time per layer name in the subtree under ``root``.

        Each instant of the root span goes to the deepest layer active at
        that instant, with every span clipped to its parent.  Where no
        spans of a layer overlap, this is the span's duration minus its
        children's coverage; where sibling spans overlap (concurrent jobs
        or stages) the overlap is counted once.  The values therefore sum
        to the root span's duration."""
        kids: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(i)
        root_span = self.spans[root]
        active: list[tuple[float, float, int, str]] = []  # (start, end, depth, name)
        stack = [(root, (root_span.start, root_span.end), 0)]
        while stack:
            idx, bounds, depth = stack.pop()
            own = clip((self.spans[idx].start, self.spans[idx].end), bounds)
            active.append((own[0], own[1], depth, self.spans[idx].name))
            stack.extend((c, own, depth + 1) for c in kids.get(idx, []))
        cuts = sorted({t for a in active for t in a[:2]})
        out = {a[3]: 0.0 for a in active}
        for lo, hi in zip(cuts, cuts[1:]):
            live = [a for a in active if a[0] <= lo and a[1] >= hi]
            deepest = max(live, key=lambda a: (a[2], a[3]))
            out[deepest[3]] += hi - lo
        return out
