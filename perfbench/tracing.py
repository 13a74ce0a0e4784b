"""Spans, py4j round-trip counting and layer wrapping for the traced run.

Everything here attaches to the engine from outside: the package's
public module functions and a few class methods are replaced at run
time by wrappers that open a span named ``<layer>.<function>``.  No
engine file is edited.

A span records wall time and the py4j commands its thread sent while
it was open.  While a span is open on the benchmark thread, Spark jobs
that thread submits carry the job group ``perfbench-<span id>``, which
the event-log parser maps back to the span.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import pkgutil
import sys
import threading
import time
from dataclasses import dataclass, field

from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME

PACKAGE = "cascading_hbase_spark"
GROUP_PREFIX = "perfbench-"
# job group of output checks made inside a traced phase; their jobs are
# left out of every metric
CHECK_GROUP = "perfbench_check"
_MEMORY_DELETE = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME

# Modules (and their submodules) whose public functions are wrapped;
# each is its own layer.  The query builders are not listed: the
# benchmark calls them itself and records their span directly.
LAYER_MODULES = ("catalog", "functions", "operators", "plans", "keyed", "streaming")
# (module, class, layer) whose public methods are wrapped; control-plane
# methods are their own layer, the keyed control plane.
LAYER_CLASSES = [
    ("keyed.controlplane", "LocalFSControlPlane", "controlplane"),
    ("plans.cascade", "Cascade", "plans"),
    ("plans.cascade", "Flow", "plans"),
    ("plans.cascade", "MaintenanceFlow", "plans"),
]
_NOT_KEYED_TABLE = ("keyed.controlplane", "keyed.objectstore")


class Py4jCounter:
    """Counts py4j commands sent from one thread, leaving out memory
    deletes: those are sent when Python garbage-collects a proxy, so
    their number depends on collector timing, not on the work done."""

    def __init__(self, gateway_client, thread_id: int | None = None):
        self.count = 0
        self._paused = 0
        self._thread = thread_id or threading.get_ident()
        self._client = gateway_client
        self._orig = gateway_client.send_command

        def send_command(command, *args, **kwargs):
            if (
                not self._paused
                and threading.get_ident() == self._thread
                and not command.startswith(_MEMORY_DELETE)
            ):
                self.count += 1
            return self._orig(command, *args, **kwargs)

        gateway_client.send_command = send_command

    @contextlib.contextmanager
    def paused(self):
        """Commands the harness itself sends are not counted."""
        self._paused += 1
        try:
            yield
        finally:
            self._paused -= 1

    def close(self) -> None:
        self._client.send_command = self._orig


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start_ms: float
    end_ms: float = 0.0
    seconds: float = 0.0
    py4j: int = 0
    extra: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    """Keeps spans in memory; ``enabled`` is False outside the traced
    phase, where ``span`` costs one attribute check."""

    def __init__(self, spark=None):
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._thread = threading.get_ident()
        self._sc = spark.sparkContext if spark is not None else None
        self.counter = (
            Py4jCounter(self._sc._gateway._gateway_client)
            if self._sc is not None else None
        )

    def _set_group(self, span: Span | None) -> None:
        if self._sc is None:
            return
        with self.counter.paused():
            if span is None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self._sc.setJobGroup(f"{GROUP_PREFIX}{span.sid}", span.name)

    @contextlib.contextmanager
    def span(self, name: str, jobs: bool = True):
        if not self.enabled or threading.get_ident() != self._thread:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.sid if parent else None,
                 time.time() * 1000.0)
        self.spans.append(s)
        self._stack.append(s)
        if jobs:
            self._set_group(s)
        p0 = self.counter.count if self.counter else 0
        t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.seconds = time.perf_counter() - t0
            s.end_ms = time.time() * 1000.0
            s.py4j = (self.counter.count if self.counter else 0) - p0
            self._stack.pop()
            if jobs:
                self._set_group(self._stack[-1] if self._stack else None)

    @contextlib.contextmanager
    def untraced(self):
        """Harness work inside a traced phase: no spans open, and the
        jobs it submits carry CHECK_GROUP."""
        if not self.enabled:
            yield
            return
        self.enabled = False
        with self.counter.paused():
            self._sc.setJobGroup(CHECK_GROUP, "output check")
        try:
            yield
        finally:
            self.enabled = True
            self._set_group(self._stack[-1] if self._stack else None)

    def record(self, name: str, seconds: float) -> None:
        """A span measured before the tracer could exist (session start)."""
        now = time.time() * 1000.0
        self.spans.append(Span(len(self.spans), name, None,
                               now - seconds * 1000.0, now, seconds))

    # --- aggregation ---------------------------------------------------
    def _outermost(self, pred) -> list[Span]:
        """Spans matching ``pred`` with no matching ancestor, so nested
        calls (a layer calling itself) are not counted twice."""
        out = []
        for s in self.spans:
            if not pred(s):
                continue
            p = s.parent
            while p is not None and not pred(self.spans[p]):
                p = self.spans[p].parent
            if p is None:
                out.append(s)
        return out

    def named(self, name: str) -> list[Span]:
        return self._outermost(lambda s: s.name == name)

    def layer(self, layer: str) -> list[Span]:
        return self._outermost(lambda s: s.layer == layer)

    def calls(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    def descendants(self, roots: list[Span]) -> set[int]:
        """Ids of ``roots`` and every span opened inside them."""
        ids = {s.sid for s in roots}
        for s in self.spans:  # parents precede children
            if s.parent in ids:
                ids.add(s.sid)
        return ids

    def close(self) -> None:
        if self.counter is not None:
            self.counter.close()


def _wrap(fn, name: str, tracer: Tracer, jobs: bool):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not tracer.enabled:
            return fn(*args, **kwargs)
        with tracer.span(name, jobs=jobs):
            return fn(*args, **kwargs)

    return wrapper


def _package_modules() -> list:
    pkg = importlib.import_module(PACKAGE)
    mods = [pkg]
    for info in pkgutil.walk_packages(pkg.__path__, PACKAGE + "."):
        mods.append(importlib.import_module(info.name))
    return mods


def instrument(tracer: Tracer) -> None:
    """Wrap every public function of the layer modules, the listed
    class methods and every tap's ``write``, then rebind every
    package-level reference to a wrapped function (``from x import f``
    copies) to its wrapper."""
    mods = _package_modules()
    wrapped: dict = {}
    for mod in mods:
        rel = mod.__name__[len(PACKAGE) + 1:]
        layer = next(
            (lay for lay in LAYER_MODULES if rel == lay or rel.startswith(lay + ".")),
            None,
        )
        if layer is None or rel.startswith(_NOT_KEYED_TABLE):
            continue
        for name, obj in list(vars(mod).items()):
            if (
                name.startswith("_")
                or not inspect.isfunction(obj)
                or obj.__module__ != mod.__name__
                or obj in wrapped
            ):
                continue
            wrapped[obj] = _wrap(obj, f"{layer}.{name}", tracer, jobs=True)
    for mod_name, cls_name, layer in LAYER_CLASSES:
        cls = getattr(importlib.import_module(f"{PACKAGE}.{mod_name}"), cls_name)
        for name, obj in list(vars(cls).items()):
            if name.startswith("_") or not inspect.isfunction(obj):
                continue
            prefix = "" if layer == "controlplane" else cls_name.lower() + "_"
            setattr(cls, name, _wrap(
                obj, f"{layer}.{prefix}{name}", tracer,
                jobs=layer != "controlplane",
            ))
    taps = importlib.import_module(f"{PACKAGE}.operators.taps")
    for cls in vars(taps).values():
        if inspect.isclass(cls) and issubclass(cls, taps.Tap) and "write" in vars(cls):
            cls.write = _wrap(cls.write, "operators.tap_write", tracer, jobs=True)
    for mod in list(sys.modules.values()):
        if not getattr(mod, "__name__", "").startswith(PACKAGE):
            continue
        for name, obj in list(vars(mod).items()):
            if inspect.isfunction(obj) and obj in wrapped:
                setattr(mod, name, wrapped[obj])
