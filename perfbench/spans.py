"""Spans, job attribution and the benchmark's own arithmetic.

Everything here is plain Python over plain values so the self-tests
can pin it without a Spark session. Times are wall-clock seconds since
the epoch (``time.time()``), the clock Spark stamps its jobs with.
"""

from __future__ import annotations

import dis
import math
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    parent: int | None
    layer: str
    name: str
    start: float
    end: float = math.nan
    failed: bool = False

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass(frozen=True)
class Job:
    """One Spark job as the status store reports it (times in s)."""

    job_id: int
    submitted: float
    completed: float
    stage_ids: tuple[int, ...]


# opcodes a frame sits on when it returns normally; any other opcode at
# a "return" profile event means an exception is unwinding the frame
_RETURN_OPS = {dis.opmap[op] for op in ("RETURN_VALUE", "RETURN_CONST") if op in dis.opmap}


class Tracer:
    """Records spans in memory. ``span`` marks a stretch of the
    benchmark's own code; while ``start``-ed, a profile hook also opens
    a span around every call of a function whose code object is in
    ``targets`` (code -> (layer, name)), so the layers' public
    functions are seen wherever they are called from, without changing
    them. Disabled, it records nothing and installs no hook."""

    def __init__(self, targets: dict | None = None):
        self.enabled = False
        self.targets = targets or {}
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def start(self) -> None:
        self.enabled = True
        if self.targets:
            sys.setprofile(self._hook)

    def stop(self) -> None:
        sys.setprofile(None)
        self.enabled = False

    def _open(self, layer: str, name: str) -> Span:
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), parent, layer, name, time.time())
        self.spans.append(sp)
        self._stack.append(sp.sid)
        return sp

    def _close(self, failed: bool) -> None:
        sp = self.spans[self._stack.pop()]
        sp.end = time.time()
        sp.failed = failed

    def _hook(self, frame, event, arg) -> None:
        if event == "call":
            target = self.targets.get(frame.f_code)
            if target is not None:
                self._open(*target)
        elif event == "return" and frame.f_code in self.targets and self._stack:
            self._close(frame.f_code.co_code[frame.f_lasti] not in _RETURN_OPS)

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        self._open(layer, name)
        failed = True
        try:
            yield
            failed = False
        finally:
            self._close(failed)


# -- interval arithmetic ---------------------------------------------


def union_length(intervals, lo: float = -math.inf, hi: float = math.inf) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span time minus the part of it that its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: s.dur - union_length(children.get(s.sid, []), s.start, s.end)
        for s in spans
    }


def attribute_jobs(spans: list[Span], jobs: list[Job]) -> dict[int, list[Job]]:
    """Each job goes to the innermost span whose interval contains its
    submission; jobs submitted outside every span are dropped. With one
    client thread, sibling spans never overlap, so the innermost
    containing span is unique."""
    out: dict[int, list[Job]] = {}
    for j in jobs:
        best = None
        for s in spans:
            if s.start <= j.submitted <= s.end and (best is None or s.start >= best.start):
                best = s
        if best is not None:
            out.setdefault(best.sid, []).append(j)
    return out


def driver_gap(span: Span, jobs: list[Job]) -> float:
    """Span wall time during which no Spark job was running."""
    return span.dur - union_length(
        [(j.submitted, j.completed) for j in jobs], span.start, span.end
    )


def coverage(passes: list[tuple[float, float]], spans: list[Span]) -> float:
    """Share of the passes' wall time that top-level spans cover."""
    tops = [(s.start, s.end) for s in spans if s.parent is None]
    wall = sum(b - a for a, b in passes)
    covered = sum(union_length(tops, a, b) for a, b in passes)
    return covered / wall if wall > 0 else 0.0


# -- summary statistics ----------------------------------------------


def tail_percentile(n: int, beyond: int = 10) -> int:
    """The highest whole percentile with at least ``beyond`` of ``n``
    samples ranked above it (nearest-rank), or 0 if none has."""
    p = 99
    while p > 0 and n - math.ceil(p * n / 100) < beyond:
        p -= 1
    return p


def nearest_rank(values: list[float], p: float) -> float:
    """Nearest-rank ``p``-th percentile (0 < p <= 100)."""
    xs = sorted(values)
    return xs[max(0, math.ceil(p * len(xs) / 100) - 1)]


def median(values: list[float]) -> float:
    xs = sorted(values)
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def tracing_overhead(traced_walls: list[float], plain_walls: list[float]) -> float:
    """Traced pass wall time minus untraced, by median."""
    return median(traced_walls) - median(plain_walls)
