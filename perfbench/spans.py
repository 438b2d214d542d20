"""In-memory spans and the interval arithmetic the traced run needs.

A span is (name, start, end, parent, ok): ``parent`` is the index of the
enclosing span in the recorder (-1 for a root) and ``ok`` is the call's
outcome as judged by the wrapper (``None`` when nothing is judged).
Spans are kept in memory and reduced once the traced pass ends.
"""

from __future__ import annotations

import functools
import time
from collections.abc import Callable, Iterable
from typing import NamedTuple


class Span(NamedTuple):
    name: str
    start: int
    end: int
    parent: int
    ok: bool | None = None


class SpanRecorder:
    """Records one span per call of every function it wraps; nesting
    follows the call stack of the (single) recording thread."""

    def __init__(self, clock: Callable[[], int] = time.perf_counter_ns):
        self.spans: list[Span | None] = []
        self._stack: list[int] = []
        self._clock = clock

    def wrap(self, name: str, fn: Callable, outcome: Callable | None = None) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = len(self.spans)
            parent = self._stack[-1] if self._stack else -1
            self.spans.append(None)
            self._stack.append(idx)
            start = self._clock()
            try:
                result = fn(*args, **kwargs)
            except BaseException:
                self._stack.pop()
                self.spans[idx] = Span(name, start, self._clock(), parent, False)
                raise
            end = self._clock()
            self._stack.pop()
            self.spans[idx] = Span(
                name, start, end, parent, None if outcome is None else bool(outcome(result))
            )
            return result

        return traced

    def finished(self) -> list[Span]:
        if self._stack:
            raise RuntimeError("spans still open")
        return list(self.spans)


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end) intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part its direct children cover."""
    children: dict[int, list[tuple[int, int]]] = {}
    for s in spans:
        if s.parent >= 0:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        (s.end - s.start) - union_length(children.get(i, ())) for i, s in enumerate(spans)
    ]


def totals_by_name(spans: list[Span]) -> dict[str, dict]:
    """name -> {calls, total, self, ok, judged} summed over spans."""
    out: dict[str, dict] = {}
    for s, own in zip(spans, self_times(spans)):
        agg = out.setdefault(s.name, {"calls": 0, "total": 0, "self": 0, "ok": 0, "judged": 0})
        agg["calls"] += 1
        agg["total"] += s.end - s.start
        agg["self"] += own
        if s.ok is not None:
            agg["judged"] += 1
            agg["ok"] += int(s.ok)
    return out
