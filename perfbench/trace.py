"""Per-layer spans for the traced benchmark run.

A layer is a module of ``paqarin_spark`` (see ``LAYERS``). ``Tracer``
wraps every public function and public method that a layer module
defines, rebinds the wrapper wherever a loaded ``paqarin_spark``
module holds the function (``plans/queries.py`` binds some at import),
and restores the originals on ``uninstall``.

Each span runs under its own Spark job group, so a job is charged to
the innermost open span; the parent's group is restored on exit. The
benchmark opens the outermost span (``plans.queries``) around each
query call and clears the group after the query. Spans are kept in
memory as per-layer totals; nothing is written until the run ends.

Structured Streaming runs micro-batches on the stream's own thread
under its own job group, so their jobs are not charged to any span:
``streaming`` reports no job count. Blocking on a stream
(``StreamingQuery.awaitTermination``) is charged to ``streaming``.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import time
from collections import defaultdict

from pyspark.sql.streaming.query import StreamingQuery

# Layer name -> module names whose definitions belong to it.
LAYERS: dict[str, tuple[str, ...]] = {
    "sources": ("paqarin_spark.sources",),
    "operators.windows": ("paqarin_spark.operators.windows",),
    "operators.resample": ("paqarin_spark.operators.resample",),
    "operators.keys": ("paqarin_spark.operators.keys",),
    "operators.scaling": ("paqarin_spark.operators.scaling",),
    "operators.sessions": ("paqarin_spark.operators.sessions",),
    "operators.dedup": ("paqarin_spark.operators.dedup",),
    "operators.similarity": ("paqarin_spark.operators.similarity",),
    "generators": (
        "paqarin_spark.generators",
        "paqarin_spark.generator",
        "paqarin_spark.adapter",
    ),
    "metrics": ("paqarin_spark.metrics",),
    "evaluation": ("paqarin_spark.evaluation",),
    "streaming": ("paqarin_spark.streaming",),
}
QUERY_LAYER = "plans.queries"
ALL_LAYERS = (*LAYERS, QUERY_LAYER)
# Layers whose jobs cannot be attributed (see module docstring).
JOBLESS_LAYERS = ("streaming",)


def _layer_of(module_name: str) -> str | None:
    for layer, prefixes in LAYERS.items():
        for p in prefixes:
            if module_name == p or module_name.startswith(p + "."):
                return layer
    return None


class _Span:
    __slots__ = ("layer", "group", "start", "child")

    def __init__(self, layer: str, group: str):
        self.layer = layer
        self.group = group
        self.start = time.perf_counter()
        self.child = 0.0


class Tracer:
    """Span recorder. ``install`` wraps the layers; ``active`` turns
    recording on for a pass; ``take`` returns and resets the totals."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._stack: list[_Span] = []
        self._undo: list = []
        self._query_groups: list[tuple[str, str]] = []
        self._seq = 0
        self.active = False
        self.reset()

    # -- totals ------------------------------------------------------
    def reset(self) -> None:
        self.calls: dict[str, int] = defaultdict(int)
        self.self_s: dict[str, float] = defaultdict(float)
        self.jobs: dict[str, int] = defaultdict(int)

    def take(self) -> dict[str, dict[str, float]]:
        out = {"calls": dict(self.calls), "self_s": dict(self.self_s), "jobs": dict(self.jobs)}
        self.reset()
        return out

    # -- spans -------------------------------------------------------
    def _enter(self, layer: str) -> _Span:
        self._seq += 1
        span = _Span(layer, f"perfbench:{layer}:{self._seq}")
        self._stack.append(span)
        self._query_groups.append((layer, span.group))
        self._sc.setJobGroup(span.group, layer)
        return span

    def _exit(self, span: _Span) -> None:
        dur = time.perf_counter() - span.start
        self._stack.pop()
        self.calls[span.layer] += 1
        self.self_s[span.layer] += dur - span.child
        if self._stack:
            parent = self._stack[-1]
            parent.child += dur
            self._sc.setJobGroup(parent.group, parent.layer)
        else:
            self._sc._jsc.clearJobGroup()

    def query_span(self, fn, *args):
        """Run one query call as the outermost ``plans.queries`` span."""
        if not self.active:
            return fn(*args)
        span = self._enter(QUERY_LAYER)
        try:
            return fn(*args)
        finally:
            self._exit(span)

    def end_query(self) -> None:
        """Clear the job group and charge each finished span's jobs to
        its layer. Call after the query's result is collected."""
        self._sc._jsc.clearJobGroup()
        tracker = self._sc.statusTracker()
        for layer, group in self._query_groups:
            if layer not in JOBLESS_LAYERS:
                self.jobs[layer] += len(tracker.getJobIdsForGroup(group))
        self._query_groups.clear()

    def _wrap(self, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            span = tracer._enter(layer)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._exit(span)

        return traced

    # -- install / uninstall ----------------------------------------
    def install(self) -> None:
        for prefixes in LAYERS.values():
            for p in prefixes:
                importlib.import_module(p)
        # id(original) -> (original, wrapper)
        wrappers: dict[int, tuple[object, object]] = {}
        for name, mod in list(sys.modules.items()):
            layer = _layer_of(name) if mod is not None else None
            if layer is None:
                continue
            for attr, val in list(vars(mod).items()):
                if attr.startswith("_") or getattr(val, "__module__", None) != name:
                    continue
                if inspect.isfunction(val):
                    wrappers[id(val)] = (val, self._wrap(layer, val))
                elif inspect.isclass(val):
                    self._wrap_class(layer, val)
        self._wrap_method(StreamingQuery, "awaitTermination", "streaming")

        def rebind(container: dict, key, val) -> None:
            hit = wrappers.get(id(val))
            if hit is not None and hit[0] is val:
                self._set(container, key, hit[1])

        # Every module-level reference, including registry dicts.
        for name, mod in list(sys.modules.items()):
            if mod is None or not name.startswith("paqarin_spark"):
                continue
            ns = vars(mod)
            for attr, val in list(ns.items()):
                if type(val) is dict:
                    for k, v in list(val.items()):
                        rebind(val, k, v)
                else:
                    rebind(ns, attr, val)

    def _wrap_class(self, layer: str, cls) -> None:
        for attr, val in list(vars(cls).items()):
            if attr.startswith("_"):
                continue
            if inspect.isfunction(val) and not getattr(val, "__isabstractmethod__", False):
                self._wrap_method(cls, attr, layer)

    def _wrap_method(self, cls, attr: str, layer: str) -> None:
        orig = cls.__dict__[attr]
        setattr(cls, attr, self._wrap(layer, orig))
        self._undo.append(lambda: setattr(cls, attr, orig))

    def _set(self, ns: dict, key, new) -> None:
        old = ns[key]
        ns[key] = new
        self._undo.append(lambda: ns.__setitem__(key, old))

    def uninstall(self) -> None:
        while self._undo:
            self._undo.pop()()
