"""In-memory span recording for the traced run.

A span is (name, start, end, parent, trace id) in wall-clock epoch
seconds.  Spans are recorded from the benchmark's own code, around calls
into the package, plus child spans rebuilt from Structured Streaming
progress events; they are kept in memory and written out once, when the
benchmark ends.  A span's self time is its duration minus the part of
that interval its children cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from datetime import datetime

#: progress ``durationMs`` phases of one micro-batch, in execution order
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    trace: str
    id: int


class Tracer:
    """Records spans when ``enabled``; every method is a cheap no-op
    otherwise, so the untraced run executes the same code."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> int:
        """Record a span under ``parent`` (default: the innermost open
        span); a root span starts a trace of its own."""
        if not self.enabled:
            return -1
        if parent is None and self._stack:
            parent = self._stack[-1]
        sid = len(self.spans)
        trace = self.spans[parent].trace if parent is not None and parent >= 0 else f"{name}-{sid}"
        self.spans.append(Span(name, start, end, parent, trace, sid))
        return sid

    @contextmanager
    def span(self, name: str):
        """Time the block as a child of the innermost open span."""
        if not self.enabled:
            yield -1
            return
        sid = self.add(name, time.time(), 0.0)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid].end = time.time()

    def add_progress(self, progress: dict, parent: int, sink_spans: dict[int, tuple]) -> None:
        """One micro-batch span with its phases as children, rebuilt
        from a progress event: phases are laid end to end from the
        trigger start in execution order; the sink span measured inside
        ``foreachBatch`` becomes a child of ``addBatch``."""
        if not self.enabled:
            return
        d = progress["durationMs"]
        start = _epoch(progress["timestamp"])
        batch = self.add("microbatch", start, start + d.get("triggerExecution", 0) / 1000.0, parent)
        at = start
        for phase in PHASES:
            ms = d.get(phase)
            if ms is None:
                continue
            pid = self.add(phase, at, at + ms / 1000.0, batch)
            if phase == "addBatch" and progress["batchId"] in sink_spans:
                s0, s1 = sink_spans[progress["batchId"]]
                self.add("sink", s0, s1, pid)
            at += ms / 1000.0

    def self_times_ms(self) -> dict[str, float]:
        """Summed self time per span name, in ms."""
        covered: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None and s.parent >= 0:
                covered.setdefault(s.parent, []).append((s.start, s.end))
        out: dict[str, float] = {}
        for s in self.spans:
            child = _union(covered.get(s.id, []), s.start, s.end)
            out[s.name] = out.get(s.name, 0.0) + max(0.0, s.end - s.start - child) * 1000.0
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(lo, s), min(hi, e)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _epoch(iso: str) -> float:
    """Progress timestamps are ISO-8601 UTC with milliseconds."""
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()
