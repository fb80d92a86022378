"""Spans around the calls into each layer, recorded from outside the package.

``Tracer.install()`` wraps the public functions and the public methods of
the public classes defined in the traced modules of ``dataflowex_spark``
(catalog, pipeline, operators.*, functions.*, sources.*, plans.* and
streaming.ops).  A function is replaced in its defining module and in
every loaded package module that bound it with ``from ... import``
(``queries.py`` does); a class is patched in place, so every name for it
sees the wrapped methods.  ``uninstall()`` restores the originals.

Every span records its name, layer, start, end, parent span and the op
it ran under; all spans of a run share ``run_id``.  Spans stay in memory
until the caller writes them out.  The span stack is shared across
threads, because ``foreachBatch`` handlers run on the py4j callback thread
while the thread that started the stream blocks inside its own span.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import sys
import threading
import time
import uuid
from contextlib import contextmanager

PACKAGE = "dataflowex_spark"
#: Traced modules by package-relative name; a trailing ``.`` means the
#: package and all of its submodules.
TRACED = ("catalog", "pipeline", "operators.", "functions.", "sources.", "plans.",
          "streaming.ops")


def traced_modules() -> list:
    names = []
    for t in TRACED:
        if t.endswith("."):
            pkg = importlib.import_module(f"{PACKAGE}.{t[:-1]}")
            names.append(pkg.__name__)
            names += [
                m.name for m in pkgutil.walk_packages(pkg.__path__, f"{pkg.__name__}.")
            ]
        else:
            names.append(f"{PACKAGE}.{t}")
    return [importlib.import_module(n) for n in names]


def layer_of(module_name: str) -> str:
    return module_name[len(PACKAGE) + 1:]


class Tracer:
    def __init__(self):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._op: str | None = None
        self._patched: list[tuple[object, str, object]] = []
        #: per wrapped qualname: callback(result) -> None, for counts
        #: that only the return value shows (cache hits).
        self.on_return: dict[str, object] = {}

    # -- spans ---------------------------------------------------------
    def _open(self, name: str, layer: str) -> int:
        with self._lock:
            idx = len(self.spans)
            self.spans.append({
                "run_id": self.run_id, "name": name, "layer": layer,
                "op": self._op, "parent": self._stack[-1] if self._stack else None,
                "start": time.time(), "end": None,
            })
            self._stack.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        with self._lock:
            self.spans[idx]["end"] = time.time()
            self._stack.remove(idx)

    @contextmanager
    def span(self, name: str, layer: str, op: str | None = None):
        prev = self._op
        if op is not None:
            self._op = op
        idx = self._open(name, layer)
        try:
            yield self.spans[idx]
        finally:
            self._close(idx)
            self._op = prev

    # -- wrapping ------------------------------------------------------
    def _wrap(self, fn, layer: str, qualname: str):
        tracer = self
        name = f"{layer}:{qualname}"

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            idx = tracer._open(name, layer)
            try:
                result = fn(*args, **kwargs)
            finally:
                tracer._close(idx)
            hook = tracer.on_return.get(qualname)
            if hook is not None:
                hook(result)
            return result

        wrapper.__perfbench_wrapped__ = True
        return wrapper

    def _patch(self, owner, attr: str, new) -> None:
        self._patched.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def install(self) -> None:
        modules = traced_modules()
        originals: dict[int, object] = {}
        for mod in modules:
            layer = layer_of(mod.__name__)
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                    continue
                if inspect.isfunction(obj) and not hasattr(obj, "__perfbench_wrapped__"):
                    wrapped = self._wrap(obj, layer, obj.__qualname__)
                    originals[id(obj)] = wrapped
                    self._patch(mod, attr, wrapped)
                elif inspect.isclass(obj) and not issubclass(obj, BaseException):
                    self._wrap_class(obj, layer)
        # rebind names other package modules imported with ``from ... import``
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith(PACKAGE) or mod is None:
                continue
            for attr, obj in list(vars(mod).items()):
                wrapped = originals.get(id(obj))
                if wrapped is not None and obj is not wrapped:
                    self._patch(mod, attr, wrapped)

    def _wrap_class(self, cls, layer: str) -> None:
        for attr, member in list(vars(cls).items()):
            if attr.startswith("_") and attr != "__init__":
                continue
            qual = f"{cls.__qualname__}.{attr}"
            if isinstance(member, (staticmethod, classmethod)):
                fn = member.__func__
                if inspect.isfunction(fn) and not hasattr(fn, "__perfbench_wrapped__"):
                    self._patch(cls, attr, type(member)(self._wrap(fn, layer, qual)))
            elif inspect.isfunction(member) and not hasattr(member, "__perfbench_wrapped__"):
                self._patch(cls, attr, self._wrap(member, layer, qual))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()


def self_times(spans: list[dict]) -> list[float]:
    """Per span: its duration minus the time its direct children cover."""
    child_time = [0.0] * len(spans)
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] += s["end"] - s["start"]
    return [s["end"] - s["start"] - c for s, c in zip(spans, child_time)]


def outermost_time(spans: list[dict], pred) -> tuple[int, float]:
    """(calls, seconds) of the spans matching ``pred``; seconds counts
    only spans with no matching ancestor, so recursion is not double
    counted."""
    calls, secs = 0, 0.0
    for s in spans:
        if not pred(s):
            continue
        calls += 1
        p = s["parent"]
        while p is not None and not pred(spans[p]):
            p = spans[p]["parent"]
        if p is None:
            secs += s["end"] - s["start"]
    return calls, secs
