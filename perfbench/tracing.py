"""In-memory spans and call counters for the traced run.

Everything here is switched on only for ``--trace 1``; the timed passes
run with none of it installed. Spans are recorded from the benchmark's
side of each layer boundary: the benchmark wraps the public functions of
the program's modules and times every call into them, and it counts
py4j round trips and Spark jobs around the build step. Nothing inside
the program is changed.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import pkgutil
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

#: the modules whose public functions form the measured layers; the
#: span name of a call is ``<layer>.<function>``
LAYER_MODULES = {
    "entry": "__spark_entry__",
    "sources": "kaskada_spark.sources",
    "fenl": "kaskada_spark.fenl",
    "streaming": "kaskada_spark.streaming",
    "sinks": "kaskada_spark.sinks",
    "qfr": "kaskada_spark.qfr",
}


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory until ``write``; the parent of a span is the
    innermost span open on the same thread."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        """Record a span around the body. ``parent`` names the causing
        span when it is open on another thread (a foreachBatch call runs
        on py4j's callback thread, not under its drain)."""
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        with self._lock:
            sp = Span(len(self.spans), name, time.perf_counter(), parent=parent, attrs=attrs)
            self.spans.append(sp)
        stack.append(sp.id)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.perf_counter()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)

    def layer_totals(self, layer: str, within: Span | None = None) -> tuple[float, int]:
        """(seconds, calls) of the outermost calls into ``layer``: a call
        made from inside another call of the same layer is not counted
        again. With ``within``, only calls under that span count."""
        by_id = {s.id: s for s in self.spans}
        prefix = layer + "."
        total, calls = 0.0, 0
        for s in self.spans:
            if not s.name.startswith(prefix):
                continue
            p, nested, inside = s.parent, False, within is None
            while p is not None:
                ps = by_id[p]
                if ps.name.startswith(prefix):
                    nested = True
                if within is not None and ps.id == within.id:
                    inside = True
                p = ps.parent
            if inside and not nested:
                total += s.dur
                calls += 1
        return total, calls


def _public_functions(module) -> list[tuple[str, object]]:
    out = []
    for name, obj in vars(module).items():
        if name.startswith("_"):
            continue
        if inspect.isfunction(obj) and obj.__module__ == module.__name__:
            out.append((name, obj))
    return out


def _public_classes(module) -> list[type]:
    return [
        obj for name, obj in vars(module).items()
        if not name.startswith("_") and inspect.isclass(obj)
        and obj.__module__ == module.__name__ and "__call__" in vars(obj)
    ]


def _layer_modules(root: str) -> list:
    mod = importlib.import_module(root)
    mods = [mod]
    if hasattr(mod, "__path__"):
        for info in pkgutil.iter_modules(mod.__path__, root + "."):
            mods.append(importlib.import_module(info.name))
    return mods


class Instrumentation:
    """Wraps every public function of the layer modules (and ``__call__``
    of their public classes, which is how a sink is invoked) with a
    span, everywhere the function object is referenced from a loaded
    module of the program. ``remove`` restores the originals."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self._undo: list[tuple[object, str, object]] = []

    def install(self) -> None:
        wrapped: dict[int, object] = {}
        for layer, root in LAYER_MODULES.items():
            for mod in _layer_modules(root):
                for name, fn in _public_functions(mod):
                    wrapped[id(fn)] = self._wrap(fn, f"{layer}.{name}")
                for cls in _public_classes(mod):
                    fn = vars(cls)["__call__"]
                    self._set(cls, "__call__", self._wrap(fn, f"{layer}.{cls.__name__}"))
        program = [
            m for n, m in list(sys.modules.items())
            if m is not None and (n == "__spark_entry__" or n.startswith("kaskada_spark"))
        ]
        for mod in program:
            for name, obj in list(vars(mod).items()):
                w = wrapped.get(id(obj))
                if w is not None:
                    self._set(mod, name, w)

    def _set(self, owner, name, value) -> None:
        self._undo.append((owner, name, getattr(owner, name)))
        setattr(owner, name, value)

    def _wrap(self, fn, span_name: str):
        tracer = self.tracer

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(span_name):
                return fn(*args, **kwargs)

        return traced

    def remove(self) -> None:
        for owner, name, old in reversed(self._undo):
            setattr(owner, name, old)
        self._undo.clear()


class Py4jCounter:
    """Counts py4j round trips by wrapping the gateway client's
    ``send_command`` (every Java call, attribute read and object release
    goes through it)."""

    def __init__(self, spark) -> None:
        self.calls = 0
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = None

    def install(self) -> None:
        orig = self._orig = self._client.send_command

        def counting(*args, **kwargs):
            self.calls += 1
            return orig(*args, **kwargs)

        self._client.send_command = counting

    def remove(self) -> None:
        if self._orig is not None:
            del self._client.send_command
            self._orig = None


@contextmanager
def job_group(spark, group: str):
    """Run the body under a Spark job group; yields a callable that
    returns how many jobs the group has started so far."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield lambda: len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
