"""Span ledger and the arithmetic the benchmark reports from it.

A span is one interval of work at a layer boundary: a name, a start and an
end (epoch seconds), the span that caused it, and the query it belongs to.
Spans are kept in memory and written out once, when the run ends.

A layer's self time is its span's duration minus the part of that interval
its child spans cover.  Children are clipped to their parent and merged
before they are subtracted, so overlapping children (concurrent Spark jobs)
are not counted twice and the self times of one query's spans sum to its
root span's duration.
"""

from __future__ import annotations

import json
import math
from collections import defaultdict
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Ledger.spans
    qid: int


def merge_intervals(intervals) -> list[tuple[float, float]]:
    """Sorted, non-overlapping union of ``intervals``; empty ones dropped."""
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def union_length(intervals, lo: float = -math.inf, hi: float = math.inf) -> float:
    """Total length covered by ``intervals`` after clipping them to [lo, hi]."""
    return sum(b - a for a, b in merge_intervals(
        (max(a, lo), min(b, hi)) for a, b in intervals))


class Ledger:
    """In-memory spans plus the per-query self-time sums."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def open(self, name: str, start: float, qid: int) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, start, start, parent, qid))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def close(self, idx: int, end: float) -> None:
        if self._stack.pop() != idx:
            raise RuntimeError(f"span {self.spans[idx].name} closed out of order")
        self.spans[idx].end = end

    def add(self, name: str, start: float, end: float, parent: int, qid: int) -> int:
        """Record a finished span under ``parent``, e.g. a Spark job read back
        from the status store after the query returned."""
        self.spans.append(Span(name, start, end, parent, qid))
        return len(self.spans) - 1

    def children(self) -> dict[int, list[int]]:
        kids: dict[int, list[int]] = defaultdict(list)
        for i, s in enumerate(self.spans):
            if s.parent is not None:
                kids[s.parent].append(i)
        return kids

    def innermost(self, root: int, t: float) -> int:
        """Deepest span under ``root`` (inclusive) whose interval holds ``t``."""
        kids = self.children()
        cur = root
        while True:
            nxt = next((k for k in kids[cur]
                        if self.spans[k].start <= t < self.spans[k].end), None)
            if nxt is None:
                return cur
            cur = nxt

    def self_times(self) -> list[float]:
        """Self time of every span, indexed like ``spans``."""
        kids = self.children()
        out = []
        for i, s in enumerate(self.spans):
            covered = union_length(
                ((self.spans[k].start, self.spans[k].end) for k in kids[i]),
                s.start, s.end,
            )
            out.append(max(0.0, (s.end - s.start) - covered))
        return out

    def per_query(self) -> dict[int, dict[str, float]]:
        """Per query: its root span's ``wall`` and each layer's self time."""
        out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for s, t in zip(self.spans, self.self_times()):
            out[s.qid][s.name] += t
            if s.parent is None:
                out[s.qid]["wall"] += s.end - s.start
        return {q: dict(v) for q, v in out.items()}

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans], **extra}, f)


# Each traced query's layer self times must explain at least this share of
# its wall; the rest is the root span's own time, which no layer explains.
COVERAGE_MIN = 0.95


def worst_unattributed_share(per_query: dict[int, dict[str, float]]) -> float:
    """Largest share of one query's wall left as the self time of its root
    span, ``harness``."""
    return max((q.get("harness", 0.0) / q["wall"] for q in per_query.values() if q["wall"] > 0),
               default=0.0)


def percentile(values, p: float) -> float:
    """The ``p``-th percentile (0-100) of ``values``, interpolating linearly
    between closest ranks."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


TAIL_LADDER = (99.0, 95.0, 90.0, 75.0, 50.0)


def tail_percentile(n: int, beyond: int = 10) -> float:
    """Highest percentile of the ladder with at least ``beyond`` of ``n``
    samples above it; the median when no percentile has that many."""
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= beyond:
            return p
    return 50.0
