"""In-memory spans and counters for the traced run.

A span is (name, start, end, parent). A layer's self time is its span's
duration minus the union of the intervals its child spans cover, so
parallel children (the catalog uploads node files on a thread pool) and
Spark jobs that overlap are not counted twice. Spans are kept in memory
for one statement and folded into per-class totals when it ends.
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        elif e > cur_e:
            cur_e = e
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id -> duration minus the union of its children's intervals,
    each child clipped to the parent."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    out = {}
    for s in spans:
        clipped = [(max(a, s.start), min(b, s.end))
                   for a, b in kids.get(s.id, []) if b > s.start
                   and a < s.end]
        out[s.id] = (s.end - s.start) - union_length(clipped)
    return out


def shared_self_times(spans: list[Span]) -> dict[int, float]:
    """Self times that add up to the root's duration even when siblings
    overlap (parallel uploads, concurrent jobs): the self time of each
    child of a parent whose children overlap is scaled by the union of
    their intervals over the sum of their durations."""
    st = self_times(spans)
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    for ks in kids.values():
        total = sum(k.end - k.start for k in ks)
        covered = union_length([(k.start, k.end) for k in ks])
        if total > covered > 0:
            for k in ks:
                st[k.id] *= covered / total
    return st


class Tracer:
    """Spans and counters of the statement in flight. Spans opened on
    another thread (a pool the program starts) take the owner thread's
    innermost open span as their parent."""

    def __init__(self, clock=time.time):
        self.clock = clock
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.active = False
        self._owner = threading.get_ident()
        self._stack: list[int] = []
        self._lock = threading.Lock()

    def reset(self) -> None:
        """Drop the spans (counters run for the whole run)."""
        self.spans, self._stack = [], []

    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    def add(self, name: str, start: float, end: float,
            parent: int | None) -> int:
        with self._lock:
            sid = len(self.spans)
            self.spans.append(Span(sid, name, start, end, parent))
            return sid

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        on_owner = threading.get_ident() == self._owner
        sid = self.add(name, self.clock(), 0.0, self.current())
        if on_owner:
            self._stack.append(sid)
        try:
            yield
        finally:
            self.spans[sid].end = self.clock()
            if on_owner:
                self._stack.pop()

    def count(self, key: str, n: float = 1) -> None:
        if self.active:
            with self._lock:
                self.counters[key] += n


CATALOG_LAYERS = ("txn", "tree", "storage")


class LayerBook:
    """Per-layer self time over many statements, and per-class sums.

    A statement's spans start with its root ``stmt`` span; the root's own
    self time is the part no layer span covers (unattributed). Layer self
    times plus unattributed time add up to statement wall time."""

    def __init__(self):
        self.wall = 0.0
        self.unattributed = 0.0
        self.layer: dict[str, float] = defaultdict(float)
        self.cls: dict[str, dict[str, float]] = defaultdict(
            lambda: defaultdict(float))

    def fold(self, spans: list[Span], cls: str,
             extra: dict | None = None) -> None:
        st = shared_self_times(spans)
        root = spans[0]
        self.wall += root.end - root.start
        self.unattributed += st[root.id]
        acc = self.cls[cls]
        acc["n"] += 1
        for s in spans[1:]:
            self.layer[s.layer] += st[s.id]
            if s.layer in CATALOG_LAYERS:
                acc["catalog_s"] += st[s.id]
            elif s.name == "engine.sql":
                acc["engine_s"] += st[s.id]
            elif s.name == "spark.job":
                acc["job_s"] += st[s.id]
        for k, v in (extra or {}).items():
            acc[k] += v

    def mean(self, cls: str, key: str) -> float:
        acc = self.cls.get(cls)
        return acc[key] / acc["n"] if acc and acc["n"] else 0.0

    def shares(self, layers) -> dict[str, float]:
        """layer -> % of statement wall time; plus 'unattributed'."""
        w = self.wall or 1.0
        out = {layer: 100.0 * self.layer.get(layer, 0.0) / w
               for layer in layers}
        out["unattributed"] = 100.0 * self.unattributed / w
        return out
