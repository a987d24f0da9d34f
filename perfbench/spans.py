"""Spans around calls into the package's layers, recorded from outside.

``Tracer.install`` replaces every public function of the layer modules
(``workloads.LAYER_MODULES``) with a wrapper that records a span: id,
parent span, operation, layer, function name, start and end.  It also
rebinds names other package modules already imported with ``from ...
import``, so a call through such an alias is traced too.  Install it
before the inventory modules are imported.

A wrapper keeps the original's ``__module__`` and ``__qualname__``, and the
module attribute of that name is the wrapper itself, so cloudpickle ships
it to Python workers by reference and workers run the untraced original.

Spans are kept in memory; ``self_times`` turns them into per-span self
time, and ``Tracer.dump`` writes them out.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import json
import pkgutil
import sys
import threading
import time
from typing import NamedTuple

from perfbench.collect import union_length


class Span(NamedTuple):
    span_id: int
    parent: int  # 0 for a root span
    op: str
    layer: str
    name: str
    start: float  # time.perf_counter()
    end: float


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.op = ""
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        # perf_counter() + offset = wall-clock seconds, to match Spark's
        # job submission times against span intervals.
        self.wall_offset = time.time() - time.perf_counter()

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def span(self, layer: str, name: str, fn, *args, **kwargs):
        """Call ``fn`` inside a span (recorded only while enabled)."""
        if not self.enabled:
            return fn(*args, **kwargs)
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else 0
        stack.append(sid)
        start = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            end = time.perf_counter()
            stack.pop()
            self.spans.append(Span(sid, parent, self.op, layer, name, start, end))

    def _wrap(self, layer: str, fn):
        name = fn.__name__

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.span(layer, name, fn, *args, **kwargs)

        return traced

    def install(self, layer_modules: dict[str, str]) -> int:
        """Wrap the public functions of every module under each layer's
        module prefix; return the number of functions wrapped."""
        wrapped: dict[int, object] = {}
        for layer, prefix in layer_modules.items():
            for module in _modules_under(prefix):
                for attr, fn in list(vars(module).items()):
                    if (
                        attr.startswith("_")
                        or not inspect.isfunction(fn)
                        or fn.__module__ != module.__name__
                        or inspect.isgeneratorfunction(fn)
                    ):
                        continue
                    wrapper = self._wrap(layer, fn)
                    setattr(module, attr, wrapper)
                    wrapped[id(fn)] = (fn, wrapper)
        package = next(iter(layer_modules.values())).split(".")[0]
        for mod_name, module in list(sys.modules.items()):
            if mod_name != package and not mod_name.startswith(package + "."):
                continue
            for attr, value in list(vars(module).items()):
                hit = wrapped.get(id(value))
                if hit is not None and hit[0] is value:
                    setattr(module, attr, hit[1])
        return len(wrapped)

    def span_cost(self) -> float:
        """Seconds one traced call of a no-op function takes over an
        untraced one, the lowest of five measurements."""
        calls = 20_000

        def noop():
            return None

        wrapped = self._wrap("calibrate", noop)
        saved = self.enabled, self.op, len(self.spans)
        self.enabled, self.op = True, "calibrate"
        costs = []
        for _ in range(5):
            t0 = time.perf_counter()
            for _ in range(calls):
                noop()
            t1 = time.perf_counter()
            for _ in range(calls):
                wrapped()
            t2 = time.perf_counter()
            costs.append(((t2 - t1) - (t1 - t0)) / calls)
        self.enabled, self.op = saved[0], saved[1]
        del self.spans[saved[2]:]
        return max(min(costs), 0.0)

    def dump(self, path: str, jobs_by_span: dict[int, int]) -> None:
        """Write every span, with the jobs it launched, as JSON lines."""
        with open(path, "w") as fh:
            for s in self.spans:
                row = s._asdict()
                row["jobs"] = jobs_by_span.get(s.span_id, 0)
                fh.write(json.dumps(row) + "\n")


def _modules_under(prefix: str) -> list:
    root = importlib.import_module(prefix)
    mods = [root]
    if hasattr(root, "__path__"):
        for info in pkgutil.walk_packages(root.__path__, prefix + "."):
            mods.append(importlib.import_module(info.name))
    return mods


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id -> its duration minus the part its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        inside = [
            (max(lo, s.start), min(hi, s.end))
            for lo, hi in children.get(s.span_id, ())
            if hi > s.start and lo < s.end
        ]
        out[s.span_id] = (s.end - s.start) - union_length(inside)
    return out


def innermost_span(spans: list[Span], t: float) -> Span | None:
    """The latest-starting span whose interval contains ``t``."""
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.start > best.start):
            best = s
    return best
