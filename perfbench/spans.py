"""Spans around calls into the engine's modules, recorded from outside.

:class:`Tracer` replaces public functions of the engine's modules with thin
wrappers (every module-level name bound to the same function object, so
``from x import f`` aliases are covered too). While ``active`` is set, each
call opens a span — name, parent, start, end — and counts the py4j round
trips the calling thread made inside it. Spans stay in memory and are
written out once, at the end of a run.

The py4j counter wraps the gateway client's ``send_command``. It counts
commands sent by the thread that opened the span and skips py4j's
object-release commands, which a finalizer thread sends whenever Python
garbage-collects a JVM reference; what is left repeats exactly for the
same call on the same input.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time

#: (module, function, layer) wrapped in traced runs
TRACED = (
    ("yaschva_spark.session", "get_spark", "session"),
    ("yaschva_spark.typed", "compile_schema", "typed"),
    ("yaschva_spark.jsonscreen", "compile_screens", "jsonscreen"),
    ("yaschva_spark.engine", "validate_table", "engine"),
    ("yaschva_spark.engine", "validate_json_table", "engine"),
    ("yaschva_spark.checks", "duplicate_key_fingerprints", "checks"),
    ("yaschva_spark.pipeline", "run_validation_job", "pipeline"),
    ("yaschva_spark.pipeline", "_hadoop_publish", "pipeline"),
    ("yaschva_spark.streaming", "make_batch_validator", "streaming"),
)

_MEMORY_COMMAND = "m\n"  # py4j protocol: release a JVM object reference


class Py4jCounter:
    """Per-thread count of py4j commands, excluding object releases."""

    def __init__(self):
        self._counts: dict[int, int] = {}
        self._client = None

    def install(self, spark) -> None:
        client = spark.sparkContext._gateway._gateway_client
        if self._client is client:
            return
        orig = client.send_command
        counts = self._counts

        def send_command(command, *args, **kwargs):
            if not command.startswith(_MEMORY_COMMAND):
                tid = threading.get_ident()
                counts[tid] = counts.get(tid, 0) + 1
            return orig(command, *args, **kwargs)

        client.send_command = send_command
        self._client = client

    def now(self) -> int:
        return self._counts.get(threading.get_ident(), 0)


class Span:
    __slots__ = ("id", "parent", "name", "layer", "start", "end", "py4j", "attrs")

    def __init__(self, sid, parent, name, layer):
        self.id, self.parent, self.name, self.layer = sid, parent, name, layer
        self.start = self.end = 0.0
        self.py4j = 0
        self.attrs: dict = {}

    @property
    def dur(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {
            "id": self.id, "parent": self.parent, "name": self.name, "layer": self.layer,
            "start": self.start, "end": self.end, "py4j": self.py4j, **self.attrs,
        }


class Tracer:
    def __init__(self):
        self.active = False
        self.spans: list[Span] = []
        self.py4j = Py4jCounter()
        self._stack = threading.local()
        #: DataFrames returned by traced engine calls in the current operation
        self.returned: list = []

    # -- spans ---------------------------------------------------------------
    def _parents(self) -> list:
        if not hasattr(self._stack, "s"):
            self._stack.s = []
        return self._stack.s

    def span(self, name: str, layer: str):
        return _SpanCtx(self, name, layer)

    def add(self, name: str, layer: str, start: float, end: float, parent, **attrs) -> Span:
        """Record a finished span measured elsewhere (e.g. a SQL execution)."""
        s = Span(len(self.spans), parent, name, layer)
        s.start, s.end, s.attrs = start, end, attrs
        self.spans.append(s)
        return s

    # -- wrapping ------------------------------------------------------------
    def install(self) -> None:
        mods = [m for n, m in sys.modules.items() if n.startswith("yaschva_spark") and m]
        for modname, fname, layer in TRACED:
            __import__(modname)
            orig = getattr(sys.modules[modname], fname)
            wrapper = self._wrap(orig, f"{layer}.{fname}", layer)
            for mod in list(mods) + [sys.modules[modname]]:
                for attr, val in list(vars(mod).items()):
                    if val is orig:
                        setattr(mod, attr, wrapper)

    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with tracer.span(name, layer):
                out = fn(*args, **kwargs)
            if layer == "engine":
                tracer.returned.append(out)
            return out

        return wrapper

    def dump(self, path: str, summary: dict) -> None:
        with open(path, "w") as f:
            json.dump({"summary": summary, "spans": [s.as_dict() for s in self.spans]}, f)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, layer: str):
        self.t, self.name, self.layer = tracer, name, layer

    def __enter__(self) -> Span:
        stack = self.t._parents()
        parent = stack[-1].id if stack else None
        self.s = Span(len(self.t.spans), parent, self.name, self.layer)
        self.t.spans.append(self.s)
        stack.append(self.s)
        self.p0 = self.t.py4j.now()
        self.s.start = time.time()
        return self.s

    def __exit__(self, *exc) -> None:
        self.s.end = time.time()
        self.s.py4j = self.t.py4j.now() - self.p0
        self.t._parents().pop()


def descendants(spans: list[Span], root: Span) -> list[Span]:
    kids: dict = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    out, todo = [], [root.id]
    while todo:
        for s in kids.get(todo.pop(), []):
            out.append(s)
            todo.append(s.id)
    return out


def covered(spans: list[Span], lo: float = float("-inf"), hi: float = float("inf")) -> float:
    """Length of the union of the spans' intervals, clipped to [lo, hi]."""
    ivs = sorted((max(s.start, lo), min(s.end, hi)) for s in spans)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(spans: list[Span], span: Span) -> float:
    """``span``'s duration minus the part of it its direct children cover
    (overlapping children, e.g. concurrent Spark jobs, count once)."""
    kids = [c for c in spans if c.parent == span.id]
    return max(0.0, span.dur - covered(kids, span.start, span.end))
