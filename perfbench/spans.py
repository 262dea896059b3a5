"""In-memory spans around the public functions each engine layer exposes.

The benchmark never edits engine code: ``Tracer.wrap`` swaps a module or
class attribute for a wrapper that records a span, and ``Tracer.close``
puts every original back. A span holds (name, start, end, parent, op id,
jobs); spans stay in memory and are summarised when the run ends.

Jobs are counted as the growth of the scheduler's next job id across a
span. That counter is global and monotonic, so it is neither capped by
``spark.ui.retainedJobs`` nor blind to jobs that pool threads submit
outside the caller's job group. Spans that run concurrently each see the
other's jobs; the benchmark reports jobs only for spans that run alone.
"""

from __future__ import annotations

import functools
import threading
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    jobs: int


def covered(intervals: list[tuple[float, float]], start: float, end: float) -> float:
    """Length of the union of ``intervals`` clipped to [start, end]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
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


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        (s.end - s.start) - covered(children.get(i, []), s.start, s.end)
        for i, s in enumerate(spans)
    ]


class Tracer:
    """Records spans. ``job_id`` returns the scheduler's next job id (or
    any monotonic job counter); ``None`` records every span with 0 jobs.

    Spans nest per thread. A span opened on a thread that has none open
    (a refresh pool worker) takes the innermost span of the thread that
    created the tracer as its parent."""

    def __init__(self, job_id: Callable[[], int] | None = None):
        self.spans: list[Span] = []
        self.op: int | None = None
        self._job_id = job_id or (lambda: 0)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> Span | None:
        """The span a new span opened here would nest under."""
        stack = self._stack() or self._main_stack
        return self.spans[stack[-1]] if stack else None

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        stack = self._stack()
        parent_stack = stack or self._main_stack
        with self._lock:
            idx = len(self.spans)
            rec = Span(name, 0.0, 0.0, parent_stack[-1] if parent_stack else None, self.op, 0)
            self.spans.append(rec)
        stack.append(idx)
        j0 = self._job_id()
        rec.start = time.perf_counter()
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            rec.jobs = self._job_id() - j0
            stack.pop()

    def wrap(self, owner: object, attr: str, name: str | Callable[..., str]) -> None:
        """Replace ``owner.attr`` with a spanned wrapper until ``close``.
        ``name`` is the span name, or a function of the call's arguments
        returning it (``None`` from it records no span)."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            if label is None:
                return orig(*args, **kwargs)
            with self.span(label):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def close(self) -> None:
        """Restore every wrapped attribute, newest first."""
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)
