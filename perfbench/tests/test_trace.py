"""Tracing wrappers: they record nested spans, reach names imported into
other modules, and restore every module and class attribute."""

import sys
import types

from perfbench.trace import Patcher, Tracer, layer_of, layer_modules
from perfbench.workloads import LAYERS


def _snapshot():
    snap = {}
    for name, mod in list(sys.modules.items()):
        if name == "xclim_spark" or name.startswith("xclim_spark."):
            for attr, value in list(vars(mod).items()):
                snap[(name, attr)] = value
                if isinstance(value, type):
                    for k, v in list(vars(value).items()):
                        snap[(name, attr, k)] = v
    return snap


def test_layer_of_prefers_longest_path():
    layers = {"operators.generic": "p.operators.generic", "pkg": "p"}
    assert layer_of("p.operators.generic", layers) == "operators.generic"
    assert layer_of("p.other", layers) == "pkg"
    assert layer_of("q", layers) is None


def test_wrappers_restore_every_attribute():
    list(layer_modules(LAYERS))
    import xclim_spark.queries  # noqa: F401 - holds from-imported names

    before = _snapshot()
    tracer, patcher = Tracer(), Patcher()
    n = patcher.install(tracer, LAYERS)
    assert n > 100
    during = _snapshot()
    changed = [k for k in before if during.get(k) is not before[k]]
    assert changed
    # from-imported names are replaced too
    import xclim_spark.calendar as cal
    import xclim_spark.queries as q
    assert q.period_start is cal.period_start
    assert q.period_start.__wrapped__ is before[("xclim_spark.calendar",
                                                  "period_start")]
    patcher.restore()
    after = _snapshot()
    assert all(after[k] is v for k, v in before.items())


def test_spans_nest_and_record_gate():
    ticks = iter(range(100))
    tracer = Tracer(clock=lambda: float(next(ticks)))
    mod = types.ModuleType("fake_layer")

    def inner():
        return 1

    def outer():
        return mod.inner() + 1

    inner.__module__ = outer.__module__ = "fake_layer"
    inner.__qualname__, outer.__qualname__ = "inner", "outer"
    mod.inner, mod.outer = inner, outer
    sys.modules["fake_layer"] = mod
    try:
        patcher = Patcher()
        # the fake module is a layer of its own
        patcher_layers = {"fake": "fake_layer"}
        for m in layer_modules(patcher_layers):
            assert m is mod
        patcher.install(tracer, patcher_layers)
        tracer.gate = "g"
        with tracer.span("queries:g", "queries"):
            assert mod.outer() == 2
        patcher.restore()
    finally:
        del sys.modules["fake_layer"]
    assert mod.outer is outer and mod.inner is inner
    names = [(s["name"], s["parent"]) for s in tracer.spans]
    assert names == [("queries:g", None), ("fake:outer", 0),
                     ("fake:inner", 1)]
    assert all(s["gate"] == "g" and s["end"] > s["start"]
               for s in tracer.spans)
