"""In-memory spans around the calls into each layer.

The program is not edited: :meth:`Tracer.wrap` replaces a layer's public
function, at runtime, in its defining module *and* in every module of
the package that bound it by name at import (``api.py`` binds
``compile_dsl`` at module top, so wrapping only ``plans.es_dsl`` would
miss every call the API makes). Calls made through a lazy
``from ... import`` inside a function read the module attribute at call
time and so see the wrapper too.

A span has a name, start, end, parent and op id. Spans nest per thread.
Hooks run on span entry and exit, which the status-store collector uses
to put each layer's Spark jobs in a job group of their own.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str | None = None
    attrs: dict = field(default_factory=dict)
    idx: int = -1

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """Collects spans; ``enabled`` switches recording off and on."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = True
        self.on_enter = None  # callable(span) or None
        self.on_exit = None  # callable(span, parent_span_or_None)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        """Record ``name`` around the body. ``op`` starts a new operation;
        nested spans inherit the op of their parent."""
        if not self.enabled:
            yield None
            return
        st = self._stack()
        parent = st[-1] if st else None
        with self._lock:
            s = Span(name, time.perf_counter(),
                     parent=parent.idx if parent else None,
                     op=op or (parent.op if parent else None), attrs=attrs,
                     idx=len(self.spans))
            self.spans.append(s)
        st.append(s)
        if self.on_enter:
            self.on_enter(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            st.pop()
            if self.on_exit:
                self.on_exit(s, parent)

    def wrap(self, module, attr: str, name: str, package: str,
             before=None) -> None:
        """Wrap ``module.attr`` everywhere the package bound it.
        ``before(span, args, kwargs)`` may add attributes to the span."""
        orig = getattr(module, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.enabled or not tracer._stack():
                return orig(*args, **kwargs)
            with tracer.span(name) as s:
                if before is not None:
                    before(s, args, kwargs)
                return orig(*args, **kwargs)

        for mod in [module] + list(sys.modules.values()):
            mname = getattr(mod, "__name__", "") or ""
            if mod is module or mname.startswith(package):
                if getattr(mod, attr, None) is orig:
                    setattr(mod, attr, wrapper)

    def wrap_method(self, cls, attr: str, name: str) -> None:
        orig = cls.__dict__[attr]
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.enabled or not tracer._stack():
                return orig(*args, **kwargs)
            with tracer.span(name):
                return orig(*args, **kwargs)

        setattr(cls, attr, wrapper)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span index → self time in ms: the span's duration minus the part
    of its interval that its children cover (overlapping children count
    once)."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(children.get(s.idx, ()), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.idx] = (s.end - s.start - covered) * 1000.0
    return out


def layer_totals(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per span name: call count, total ms and self ms."""
    selfs = self_times(spans)
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: {"calls": 0, "total_ms": 0.0, "self_ms": 0.0})
    for s in spans:
        t = out[s.name]
        t["calls"] += 1
        t["total_ms"] += s.ms
        t["self_ms"] += selfs[s.idx]
    return dict(out)
