"""Spans around the program's public functions, kept in memory.

``Tracer.install`` wraps every public function of every module of a
package, both where it is defined and in each package module that
imported the name (``pipeline.write_parquet`` is the same function as
``sources.write_parquet``), and counts driver-to-JVM py4j commands. The
program's source is never edited: wrapping replaces module attributes
and ``uninstall`` puts the originals back.

Spans only record while a run is active (``Tracer.run``); outside a run
the wrappers pass straight through. Each span sets its own Spark job
group, so every job in the event log names the innermost span that
started it.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import pkgutil
import time
from dataclasses import dataclass

GROUP_PREFIX = "perfbench:"


@dataclass
class Span:
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    children: float = 0.0  # summed duration of direct child spans

    @property
    def self_s(self) -> float:
        return (self.end - self.start) - self.children


def self_times(spans: list[Span], fold: dict[str, str] | None = None) -> dict[str, float]:
    """Self time per reported name. A span whose name is not a key of
    ``fold`` (when given) is folded into its nearest ancestor that is, so
    unreported helpers count toward the layer that called them; ``fold``
    maps span names to the name they report under."""
    out: dict[str, float] = {}
    for s in spans:
        out_name = report_name(spans, s, fold)
        out[out_name] = out.get(out_name, 0.0) + s.self_s
    return out


def report_name(spans: list[Span], s: Span, fold: dict[str, str] | None) -> str:
    if fold is None:
        return s.name
    while s.name not in fold and s.parent is not None:
        s = spans[s.parent]
    return fold.get(s.name, s.name)


class NullTracer:
    """Tracing off: phases and terminal actions cost nothing extra."""

    @contextlib.contextmanager
    def span(self, name: str):
        yield

    def collect(self, df):
        return df.collect()

    def terminal(self, df) -> None:
        pass


class Tracer(NullTracer):
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.frames: list = []
        self.py4j = {}  # phase -> [calls, seconds]
        self.active = False
        self._in_tracer = False
        self._undo: list[tuple[object, str, object]] = []

    # -- spans ----------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        parent = self.stack[-1] if self.stack else None
        idx = len(self.spans)
        self._set_group(f"{GROUP_PREFIX}{idx}")
        self.spans.append(Span(name, parent, time.perf_counter()))
        self.stack.append(idx)
        try:
            yield
        finally:
            s = self.spans[idx]
            s.end = time.perf_counter()
            self.stack.pop()
            if parent is not None:
                self.spans[parent].children += s.end - s.start
            self._set_group(f"{GROUP_PREFIX}{parent}" if parent is not None else None)

    def _set_group(self, group: str | None) -> None:
        self._in_tracer = True
        try:
            self.sc.setLocalProperty("spark.jobGroup.id", group)
        finally:
            self._in_tracer = False

    def collect(self, df):
        """A terminal action; its frame's Catalyst phases are read later."""
        with self.span("action.collect"):
            rows = df.collect()
        self.terminal(df)
        return rows

    def terminal(self, df) -> None:
        """Record a terminal frame whose Catalyst phases to report."""
        if self.active:
            self.frames.append(df)

    @contextlib.contextmanager
    def run(self):
        """One traced pipeline run: fresh spans, frames and py4j counts."""
        self.spans, self.stack, self.frames, self.py4j = [], [], [], {}
        self.active = True
        try:
            yield self
        finally:
            self.active = False

    def phase_of_stack(self) -> str:
        for idx in self.stack:
            name = self.spans[idx].name
            if name in ("build", "action"):
                return name
        return "other"

    # -- wrapping ---------------------------------------------------------
    def install(self, package) -> list[str]:
        """Wrap the package's public functions and py4j's command path.
        Returns the span names, ``<layer>.<function>``."""
        modules = [package] + [
            importlib.import_module(m.name)
            for m in pkgutil.walk_packages(package.__path__, package.__name__ + ".")
        ]
        wrapped: dict[int, object] = {}
        names = []
        for mod in modules:
            for attr, fn in list(vars(mod).items()):
                if _is_public_function(mod, attr, fn):
                    name = f"{layer_of(mod.__name__, package.__name__)}.{attr}"
                    wrapped[id(fn)] = self._wrap(fn, name)
                    names.append(name)
        for mod in modules:  # rebind where defined and where imported
            for attr, val in list(vars(mod).items()):
                if id(val) in wrapped and inspect.isfunction(val):
                    self._undo.append((mod, attr, val))
                    setattr(mod, attr, wrapped[id(val)])
        self._wrap_py4j()
        return sorted(names)

    def uninstall(self) -> None:
        for obj, attr, val in reversed(self._undo):
            setattr(obj, attr, val)
        self._undo = []

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def _wrap_py4j(self) -> None:
        from py4j.java_gateway import GatewayClient

        original = GatewayClient.send_command
        tracer = self

        @functools.wraps(original)
        def send_command(client, *args, **kwargs):
            if not tracer.active or tracer._in_tracer:
                return original(client, *args, **kwargs)
            t0 = time.perf_counter()
            try:
                return original(client, *args, **kwargs)
            finally:
                c = tracer.py4j.setdefault(tracer.phase_of_stack(), [0, 0.0])
                c[0] += 1
                c[1] += time.perf_counter() - t0

        self._undo.append((GatewayClient, "send_command", original))
        GatewayClient.send_command = send_command

    # -- reading back -----------------------------------------------------
    def catalyst_ms(self) -> dict[str, float]:
        """Summed Catalyst phase durations of the terminal frames. A frame
        that was written rather than collected ran under a command's own
        query execution, so its plan is built here, after the run, to
        read what Catalyst costs for it."""
        out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        self._in_tracer = True
        try:
            for df in self.frames:
                qe = df._jdf.queryExecution()
                qe.executedPlan()  # a lazy val: no-op for a collected frame
                phases = qe.tracker().phases()  # Scala Map
                for key in out:
                    if phases.contains(key):
                        out[key] += phases.apply(key).durationMs()
        finally:
            self._in_tracer = False
        return out


def layer_of(module: str, package: str) -> str:
    """``pkg.operators.text`` -> ``text``; ``pkg.functions.derive`` ->
    ``functions``; ``pkg.sources`` -> ``sources``."""
    rel = module[len(package) + 1:] if module != package else package
    if rel.startswith("operators."):
        return rel.split(".")[1]
    return rel.split(".")[0]


def _is_public_function(mod, attr: str, fn) -> bool:
    if not inspect.isfunction(fn) or fn.__module__ != mod.__name__:
        return False
    public = getattr(mod, "__all__", None)
    return attr in public if public is not None else not attr.startswith("_")
