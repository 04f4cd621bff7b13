"""Spans for the traced run: a recorder, the wrappers it installs on the
package layers' public functions, and per-layer rollups.

Wrappers replace module (and class) attributes at run time and
:meth:`Patcher.restore` puts every original back.  A function imported by
name into another module (``from .calendar import period_start``) is
replaced there too, so calls through either name are traced.  Only the
driver is traced: Python workers import the untouched modules."""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import pkgutil
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from .arith import self_time


class Tracer:
    """Keeps spans ``{id, parent, name, layer, start, end, gate}`` in
    memory.  Each thread nests its own spans; a span opened on a helper
    thread (a ``foreachBatch`` callback) hangs under the main thread's
    innermost open span, which is what caused it."""

    def __init__(self, clock=time.time):
        self.clock = clock
        self.spans: list[dict] = []
        self.gate: str | None = None
        self._ids = itertools.count()
        self._local = threading.local()
        self._main = self._stack()

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str, layer: str):
        stack = self._stack()
        parent = stack[-1] if stack else (self._main[-1] if self._main
                                          else None)
        rec = {"id": next(self._ids), "parent": parent, "name": name,
               "layer": layer, "start": self.clock(), "end": None,
               "gate": self.gate}
        self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = self.clock()
            stack.pop()

    def wrap(self, fn, layer: str):
        name = f"{layer}:{fn.__qualname__}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced


def layer_of(module: str, layers: dict[str, str]) -> str | None:
    """The layer owning ``module``: the longest layer module path that is
    ``module`` itself or a package containing it."""
    best = None
    for layer, path in layers.items():
        if module == path or module.startswith(path + "."):
            if best is None or len(path) > len(layers[best]):
                best = layer
    return best


def layer_modules(layers: dict[str, str]):
    """Import every layer module, and every submodule of a layer package."""
    for path in layers.values():
        mod = importlib.import_module(path)
        yield mod
        if hasattr(mod, "__path__"):
            for info in pkgutil.walk_packages(mod.__path__, path + "."):
                yield importlib.import_module(info.name)


def _traceable(name: str, value, module: str) -> bool:
    return (inspect.isfunction(value) and value.__module__ == module
            and not name.startswith("_")
            # pandas_udf objects: calling one only builds a Column
            and not hasattr(value, "evalType"))


class Patcher:
    """Installs tracing wrappers and restores the originals."""

    def __init__(self):
        self._saved: list[tuple[object, str, object]] = []

    def _set(self, owner, name: str, value) -> None:
        self._saved.append((owner, name, owner.__dict__[name]))
        setattr(owner, name, value)

    def install(self, tracer: Tracer, layers: dict[str, str]) -> int:
        """Wrap every public function (and public method or ``__call__``
        of a class) defined in a layer module; returns the number of
        attributes replaced."""
        wrapped: dict[int, tuple[object, object]] = {}
        mods = list(layer_modules(layers))
        for mod in mods:
            layer = layer_of(mod.__name__, layers)
            for name, value in list(vars(mod).items()):
                if _traceable(name, value, mod.__name__):
                    if id(value) not in wrapped:
                        wrapped[id(value)] = (value,
                                              tracer.wrap(value, layer))
                elif (inspect.isclass(value)
                      and value.__module__ == mod.__name__
                      and not name.startswith("_")):
                    for attr, fn in list(vars(value).items()):
                        if inspect.isfunction(fn) and (
                                attr == "__call__"
                                or not attr.startswith("_")):
                            self._set(value, attr, tracer.wrap(fn, layer))
        owners = {m.__name__: m for m in mods}
        owners.update((name, m) for name, m in list(sys.modules.items())
                      if name == "xclim_spark"
                      or name.startswith("xclim_spark."))
        for mod in owners.values():
            for name, value in list(vars(mod).items()):
                hit = wrapped.get(id(value))
                if hit is not None and hit[0] is value:
                    self._set(mod, name, hit[1])
        return len(self._saved)

    def restore(self) -> None:
        while self._saved:
            owner, name, original = self._saved.pop()
            setattr(owner, name, original)


def layer_rollup(spans: list[dict], engine_spans: list[dict],
                 layers: dict[str, str]) -> dict[str, dict[str, float]]:
    """Per layer: ``calls`` (wrapped calls), ``self_s`` (span time not
    covered by child spans, layer or engine) and ``eager_sql`` (SQL
    executions whose innermost enclosing span is the layer's)."""
    out = {layer: {"calls": 0.0, "self_s": 0.0, "eager_sql": 0.0}
           for layer in layers}
    children = defaultdict(list)
    for s in spans + engine_spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        if s["layer"] in out:
            out[s["layer"]]["calls"] += 1
            out[s["layer"]]["self_s"] += self_time(s, children[s["id"]])
    for e in engine_spans:
        if e["layer"] == "sql" and e["parent"] in by_id:
            owner = by_id[e["parent"]]["layer"]
            if owner in out:
                out[owner]["eager_sql"] += 1
    return out


class ProgressLog:
    """Collects ``StreamingQueryListener`` progress events as plain
    dicts; :meth:`listener` builds the PySpark listener feeding it."""

    def __init__(self):
        self.events: list[dict] = []

    def add(self, p) -> None:
        from datetime import datetime

        ts = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
        dur = dict(p.durationMs)
        self.events.append({
            "run": str(p.runId), "batch": p.batchId, "start": ts.timestamp(),
            "rows": p.numInputRows,
            "trigger_s": dur.get("triggerExecution", 0) / 1000.0,
            "add_batch_s": dur.get("addBatch", 0) / 1000.0,
            "state_rows": sum(o.numRowsTotal for o in p.stateOperators),
            "state_mem": sum(o.memoryUsedBytes for o in p.stateOperators),
        })

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                log.add(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Listener()
