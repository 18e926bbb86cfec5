"""Spans recorded from outside the program.

A traced run replaces module attributes of the program's public layer
functions with wrappers that record a span (name, layer, start, end,
parent, run id) per call. ``pipeline.run_month`` reaches ingest, warehouse
and quality through module attributes, so wrapping those attributes sees
its inner calls without editing the program. A wrapped lazy DataFrame
function such as ``warehouse.build_fact`` times planning only; the jobs it
later causes are attributed by call site or job group (see
``attribution.job_layer``).
"""

from __future__ import annotations

import functools
import itertools
import time
from contextlib import contextmanager

from attribution import Span


class Tracer:
    """Collects spans in memory; ``restore`` puts the original module
    attributes back."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.scope = None  # set by the run: marks the layer in the job group
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._ids = itertools.count()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, layer: str):
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.time()
        try:
            if self.scope is None:
                yield
            else:
                with self.scope(layer, name):
                    yield
        finally:
            self._stack.pop()
            self.spans.append(Span(sid, name, layer, start, time.time(), parent, self.run_id))

    def wrapped(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def call(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return call

    def wrap(self, module, attr: str, layer: str) -> None:
        """Replace ``module.attr`` with a span-recording wrapper."""
        fn = getattr(module, attr)
        self._patched.append((module, attr, fn))
        setattr(module, attr, self.wrapped(fn, f"{layer}.{attr}", layer))

    def restore(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()


class NoTracer:
    """Untraced runs: the same call sites, no wrappers and no spans."""

    def __init__(self):
        self.scope = None
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str, layer: str):
        yield

    def wrapped(self, fn, name: str, layer: str):
        return fn

    def wrap(self, module, attr: str, layer: str) -> None:
        pass

    def restore(self) -> None:
        pass
