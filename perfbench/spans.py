"""In-memory spans around the calls into the engine's modules.

A :class:`Tracer` wraps every public function of the traced modules where it
is defined and wherever another module of the package imported it by name.
Spans are kept in memory and folded after the run; nothing is written while
ops execute.  Only driver-side calls are recorded: a wrapper that gets
pickled into a Spark worker (a kernel referencing a traced function)
pickles as the original function.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import operator
import pkgutil
import threading
import time
from dataclasses import dataclass

PACKAGE = "contentwise_impressions_spark"
#: layer -> modules whose public functions are traced
LAYERS = {
    "sources": ("sources.tables",),
    "operators": ("operators",),
    "recommenders": ("recommenders",),
    "evaluation": ("evaluation.metrics",),
    "streaming": ("streaming",),
}


@dataclass
class Span:
    name: str
    layer: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    op: str | None
    sid: int


class _Traced:
    """Callable stand-in for a traced function."""

    def __init__(self, tracer: "Tracer", fn, name: str, layer: str):
        functools.update_wrapper(self, fn)
        self._tracer, self._fn, self._name, self._layer = tracer, fn, name, layer

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._name, self._layer):
            return self._fn(*args, **kwargs)

    def __reduce__(self):
        return operator.itemgetter(0), ((self._fn,),)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.op: str | None = None
        self._local = threading.local()
        self._ids = itertools.count()  # next() on a count is atomic
        self._patched: list[tuple[object, str, object]] = []

    def span(self, name: str, layer: str):
        return _SpanCtx(self, name, layer)

    # -- patching ---------------------------------------------------------
    def install(self) -> int:
        """Wrap the traced modules' public functions; returns how many
        attributes were replaced."""
        pkg = importlib.import_module(PACKAGE)
        modules = [
            importlib.import_module(m.name)
            for m in pkgutil.walk_packages(pkg.__path__, PACKAGE + ".")
        ]
        wrapped: dict[int, _Traced] = {}
        for layer, prefixes in LAYERS.items():
            for mod in modules:
                short = mod.__name__[len(PACKAGE) + 1 :]
                if not any(short == p or short.startswith(p + ".") for p in prefixes):
                    continue
                for attr, fn in vars(mod).items():
                    if (
                        not attr.startswith("_")
                        and inspect.isfunction(fn)
                        and fn.__module__ == mod.__name__
                    ):
                        wrapped[id(fn)] = _Traced(self, fn, f"{short}.{attr}", layer)
        for mod in modules:
            for attr, val in list(vars(mod).items()):
                w = wrapped.get(id(val))
                if w is not None and w._fn is val:
                    self._patched.append((mod, attr, val))
                    setattr(mod, attr, w)
        return len(self._patched)

    def uninstall(self) -> None:
        for mod, attr, fn in reversed(self._patched):
            setattr(mod, attr, fn)
        self._patched.clear()


class _SpanCtx:
    __slots__ = ("t", "name", "layer", "sid", "parent", "start")

    def __init__(self, tracer: Tracer, name: str, layer: str):
        self.t, self.name, self.layer = tracer, name, layer

    def __enter__(self):
        t = self.t
        if not t.enabled:
            self.sid = None
            return self
        stack = getattr(t._local, "stack", None)
        if stack is None:
            stack = t._local.stack = []
        self.sid = next(t._ids)
        self.parent = stack[-1] if stack else None
        stack.append(self.sid)
        self.start = time.time()
        return self

    def __exit__(self, *exc):
        if self.sid is None:
            return False
        t = self.t
        end = time.time()
        t._local.stack.pop()
        t.spans.append(
            Span(self.name, self.layer, self.start, end, self.parent, t.op, self.sid)
        )
        return False


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the time its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: (s.end - s.start) - union_seconds(children.get(s.sid, []))
        for s in spans
    }


def layer_totals(spans: list[Span]) -> dict[str, dict[str, float]]:
    """layer -> {"calls", "s"} (self seconds), plus a ``sources.load_table``
    entry for the table loader alone."""
    st = self_times(spans)
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        keys = [s.layer]
        if s.name == "sources.tables.load_table":
            keys.append("sources.load_table")
        for k in keys:
            acc = out.setdefault(k, {"calls": 0, "s": 0.0})
            acc["calls"] += 1
            acc["s"] += st[s.sid]
    return out
