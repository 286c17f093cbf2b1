"""In-memory span tracer for the benchmark's traced runs.

``Tracer.install`` wraps public entry points of the engine's layers in
place (module and class attributes), so calls the engine makes through
those attributes are recorded too.  A span is (id, parent, name, layer,
thread, start, end).  The current span lives in a ``ContextVar``; the
runner copies its context into every node it submits to its thread
pool, so spans opened by node threads get the build span as parent.
Spans stay in memory until ``write`` dumps them at the end of the run.
"""

from __future__ import annotations

import contextlib
import contextvars
import functools
import inspect
import itertools
import json
import threading
import time
from collections import defaultdict

# operator modules whose public functions are traced (layer "operators")
OPERATOR_MODULES = (
    "dedup",
    "similarity",
    "text_analysis",
    "snapshot",
    "tests",
    "drift",
    "diff",
    "schema_diff",
)

_current: contextvars.ContextVar = contextvars.ContextVar("perfbench_span", default=None)


class Span:
    __slots__ = ("id", "parent", "name", "layer", "thread", "start", "end", "attrs")

    def __init__(self, sid, parent, name, layer):
        self.id = sid
        self.parent = parent
        self.name = name
        self.layer = layer
        self.thread = threading.get_ident()
        self.start = time.perf_counter()
        self.end = None
        self.attrs = {}

    def as_dict(self, t0: float) -> dict:
        return {
            "id": self.id,
            "parent": self.parent.id if self.parent else None,
            "name": self.name,
            "layer": self.layer,
            "thread": self.thread,
            "start_s": self.start - t0,
            "end_s": None if self.end is None else self.end - t0,
            "attrs": self.attrs,
        }


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.t0 = time.perf_counter()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    def open(self, name: str, layer: str) -> tuple[Span, contextvars.Token]:
        span = Span(next(self._ids), _current.get(), name, layer)
        with self._lock:
            self.spans.append(span)
        return span, _current.set(span)

    def close(self, span: Span, token: contextvars.Token) -> None:
        span.end = time.perf_counter()
        _current.reset(token)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        span, token = self.open(name, layer)
        try:
            yield span
        finally:
            self.close(span, token)

    def wrap(self, fn, name: str, layer: str, on_result=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span, token = self.open(name, layer)
            try:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(span, args, out)
                return out
            finally:
                self.close(span, token)

        traced.__perfbench_traced__ = True
        return traced

    def patch(self, owner, attr: str, name: str, layer: str, on_result=None) -> None:
        fn = getattr(owner, attr)
        if getattr(fn, "__perfbench_traced__", False):
            return
        self._undo.append((owner, attr, fn))
        setattr(owner, attr, self.wrap(fn, name, layer, on_result))

    # ------------------------------------------------------------ install
    def install(self) -> None:
        """Wrap the public entry points of every measured layer."""
        import importlib

        from dbt_core_gcloud_template_spark import queries as queries_pkg
        from dbt_core_gcloud_template_spark import session
        from dbt_core_gcloud_template_spark.plans import manifest, runner

        self.patch(session, "get_spark", "get_spark", "session")
        eng = runner.Engine
        self.patch(eng, "__init__", "Engine.__init__", "runner.init")
        self.patch(eng, "register_sources", "Engine.register_sources", "sources")
        self.patch(
            eng, "compile", "Engine.compile", "compiler",
            on_result=lambda s, a, m: s.attrs.update(nodes=len(m.nodes)),
        )
        self.patch(eng, "build", "Engine.build", "runner")
        self.patch(
            manifest.Manifest, "select", "Manifest.select", "manifest",
            on_result=lambda s, a, sel: s.attrs.update(
                selected=len(sel), nodes=len(a[0].nodes)
            ),
        )
        self.patch(manifest.Manifest, "write", "Manifest.write", "artifacts")
        self.patch(runner.RunResults, "write", "RunResults.write", "artifacts")
        for mod_name in OPERATOR_MODULES:
            mod = importlib.import_module(
                f"dbt_core_gcloud_template_spark.operators.{mod_name}"
            )
            for attr, fn in list(vars(mod).items()):
                if (
                    not attr.startswith("_")
                    and inspect.isfunction(fn)
                    and fn.__module__ == mod.__name__
                ):
                    self.patch(mod, attr, f"{mod_name}.{attr}", f"operators.{mod_name}")
        registry_fn = queries_pkg.queries

        def traced_queries():
            return {
                name: self.wrap(fn, f"queries.{name}", "queries")
                for name, fn in registry_fn().items()
            }

        self._undo.append((queries_pkg, "queries", registry_fn))
        queries_pkg.queries = traced_queries

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._undo):
            setattr(owner, attr, fn)
        self._undo.clear()

    # ------------------------------------------------------------ analysis
    def closed(self) -> list[Span]:
        return [s for s in self.spans if s.end is not None]

    def self_time_by_layer(self, spans: list[Span]) -> dict[str, float]:
        """Span duration minus the union of its children's intervals,
        summed per top-level layer name (``operators.dedup`` counts
        under ``operators``)."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in spans:
            if s.parent is not None:
                children[s.parent.id].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(
                (max(c.start, s.start), min(c.end, s.end)) for c in children[s.id]
            ):
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s.layer.split(".")[0]] += (s.end - s.start) - covered
        return dict(out)

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {"spans": [s.as_dict(self.t0) for s in self.spans], **extra},
                f,
                indent=1,
                default=str,
            )
