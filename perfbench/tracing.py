"""In-memory spans around the calls into each layer of the program.

The traced run wraps the public functions of the program's modules from the
outside (the program files are not touched): every call becomes a span with
a name, a layer, a start, an end and the span that caused it.  Spans stay in
memory and are reduced when the run ends:

* a layer's *self time* is the time its spans cover minus the part of that
  interval their child spans cover;
* the *uncovered* share is the part of the measured windows no span covers
  at all.

Both can be restricted to weighted windows (the program's own operations,
each weighted so the figures come out per warm pass).

A Spark streaming query runs its ``foreachBatch`` sink on another thread; a
span opened on a thread with nothing open is parented to the innermost span
open on the main thread at that moment, so the main thread's wait on the
stream does not count the sink's work a second time.
"""

from __future__ import annotations

import functools
import inspect
import sys
import threading
import time
from typing import NamedTuple

from perfbench.stats import overlap, subtract


class Span(NamedTuple):
    id: int
    parent: int | None
    name: str
    layer: str
    start: float
    end: float


def self_times(spans, windows=None) -> dict[str, float]:
    """Per-layer self time: each span's duration minus the union of its
    children's intervals clipped to it.  With ``windows`` [(start, end,
    weight)], only the self time inside a window counts, times its weight."""
    children: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        own = subtract((s.start, s.end), ((c.start, c.end) for c in children.get(s.id, ())))
        t = overlap(own, windows) if windows is not None else sum(e - b for b, e in own)
        out[s.layer] = out.get(s.layer, 0.0) + t
    return out


def uncovered_share(spans, windows) -> float:
    """Share of the ``windows`` [(start, end, weight)], weighted, that no
    span covers."""
    total = sum(w * (hi - lo) for lo, hi, w in windows)
    if total <= 0:
        return 0.0
    return 1.0 - overlap(((s.start, s.end) for s in spans), windows) / total


class Tracer:
    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[int] = []
        self._next_id = 0

    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, layer: str):
        return _SpanCtx(self, name, layer)

    def _open(self) -> tuple[int, int | None]:
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            main = self._main_stack
            parent = main[-1] if main and stack is not main else None
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        stack.append(sid)
        return sid, parent

    def _close(self, sid, parent, name, layer, start):
        end = self.clock()
        stack = self._stack()
        if stack and stack[-1] == sid:
            stack.pop()
        with self._lock:
            self.spans.append(Span(sid, parent, name, layer, start, end))

    def wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sid, parent = tracer._open()
            start = tracer.clock()
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._close(sid, parent, name, layer, start)

        return traced

    def instrument(self, layers: dict[str, object], also_in=()) -> int:
        """Wrap the public functions, and the public methods of the public
        classes, defined in each module of ``layers`` ({layer: module}).
        Names that modules under the ``also_in`` prefixes imported with
        ``from m import f`` are rebound to the wrappers too.  Returns the
        number of wrapped callables."""
        wrapped: dict[int, object] = {}  # id(original function) -> wrapper
        methods = 0
        for layer, mod in layers.items():
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                    continue
                if inspect.isfunction(obj):
                    wrapped[id(obj)] = self.wrap(obj, f"{layer}.{attr}", layer)
                    setattr(mod, attr, wrapped[id(obj)])
                elif inspect.isclass(obj):
                    for m, f in list(vars(obj).items()):
                        if not m.startswith("_") and inspect.isfunction(f):
                            setattr(obj, m, self.wrap(f, f"{layer}.{attr}.{m}", layer))
                            methods += 1
        prefixes = tuple(also_in)
        for name, mod in list(sys.modules.items()):
            if mod is None or not prefixes or not name.startswith(prefixes):
                continue
            for attr, obj in list(vars(mod).items()):
                if id(obj) in wrapped:
                    setattr(mod, attr, wrapped[id(obj)])
        return len(wrapped) + methods

    def calibrate(self, n: int = 20000) -> float:
        """Seconds one wrapped call adds over a bare call."""
        def f():
            return None

        probe = Tracer(self.clock)
        g = probe.wrap(f, "probe", "probe")
        t0 = self.clock()
        for _ in range(n):
            f()
        bare = self.clock() - t0
        t0 = self.clock()
        for _ in range(n):
            g()
        return max(0.0, (self.clock() - t0 - bare) / n)


class _SpanCtx:
    __slots__ = ("tracer", "name", "layer", "sid", "parent", "start")

    def __init__(self, tracer, name, layer):
        self.tracer, self.name, self.layer = tracer, name, layer

    def __enter__(self):
        self.sid, self.parent = self.tracer._open()
        self.start = self.tracer.clock()
        return self

    def __exit__(self, *exc):
        self.tracer._close(self.sid, self.parent, self.name, self.layer, self.start)
        return False


class NullTracer:
    """Stand-in for the untraced run: a span costs one call."""

    def span(self, name, layer):
        return _NULL


class _NullCtx:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


_NULL = _NullCtx()
