"""In-memory spans recorded around calls into the engine's modules.

The benchmark does not edit engine code: it wraps bound methods of the
objects it built (``engine.run_round = tracer.wrap(...)``), so a span
covers exactly one call into a module's public function. Spans are
kept in memory and written out once, when the run ends.

A span's parent is the innermost open span of the calling thread; a
span opened on a thread with no open span of its own (the engine's
seen-add and commit threads) takes the innermost open span of the
thread that created the tracer, which is the crawl round that started
the thread.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    thread: str


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._main_ident = threading.get_ident()

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main_ident:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        """Record the enclosed block as span ``name``; yields the span
        id. The span is stored even when the block raises."""
        stack = self._stack()
        # a slice is taken atomically, so the main thread may push or pop
        # meanwhile without this read seeing an empty-then-indexed list
        outer = stack[-1:] or self._main_stack[-1:]
        parent = outer[0] if outer else None
        with self._lock:
            sid = next(self._ids)
        stack.append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(Span(
                    sid, name, start, end, parent, self.run_id,
                    threading.current_thread().name,
                ))

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as span ``name``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # -- reading ----------------------------------------------------------

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_times(self) -> dict[str, float]:
        """Σ per span name of (duration − the part of its interval that
        its children cover). Children on other threads may overlap each
        other, so they are clipped to the parent and merged first."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = union_length(
                [(max(c.start, s.start), min(c.end, s.end))
                 for c in children.get(s.id, [])]
            )
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "run_id": self.run_id,
                    "spans": [asdict(s) for s in self.spans],
                    "self_time_s": self.self_times(),
                },
                f,
            )


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
