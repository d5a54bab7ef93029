"""Spans around the layers' public functions, recorded from outside the program.

``install()`` imports every layer module of ``torua_spark`` and replaces
each public function (and each public method of a public class) defined
there with a wrapper that records a span while ``SPANS.enabled`` is set.
It must run before the query registry is imported, so that the
registry's ``from ... import`` bindings pick up the wrappers; a final
sweep rebinds any reference to an original function that an
already-imported module holds.

A wrapper keeps the wrapped function's ``__module__`` and ``__qualname__``
and becomes the module attribute, so cloudpickle ships it to Python
workers by reference and a worker runs the original, unwrapped function.
Every thread of the driver records spans on a stack of its own, so a
layer called from a stream's ``foreachBatch`` callback thread counts
too.

Self time of a span is its duration minus the time covered by its child
spans, accumulated per layer as the spans close.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import sys
import threading
import time
from collections import defaultdict


# Packages whose modules are layers; ``torua_spark.engine`` is one too.
LAYER_PACKAGES = ("functions", "sources", "plans", "operators", "streaming")
LAYER_MODULES = ("engine",)


class Spans:
    """In-memory span recorder with per-layer self-time accounting."""

    def __init__(self) -> None:
        self.enabled = False
        self._local = threading.local()
        self._lock = threading.Lock()
        self.self_s: dict[str, float] = defaultdict(float)
        # (layer, start, end, depth, thread id)
        self.closed: list[tuple[str, float, float, int, int]] = []

    def _stack(self) -> list[list]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []  # [name, start, child_s]
        return stack

    def begin(self, name: str) -> None:
        self._stack().append([name, time.perf_counter(), 0.0])

    def end(self) -> None:
        stack = self._stack()
        name, start, child_s = stack.pop()
        stop = time.perf_counter()
        dur = stop - start
        if stack:
            stack[-1][2] += dur
        with self._lock:
            self.self_s[name] += dur - child_s
            self.closed.append((name, start, stop, len(stack), threading.get_ident()))


SPANS = Spans()


def _wrap(fn, layer: str):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        if not SPANS.enabled:
            return fn(*args, **kwargs)
        SPANS.begin(layer)
        try:
            return fn(*args, **kwargs)
        finally:
            SPANS.end()

    return traced


def layer_modules() -> list[str]:
    names = [f"torua_spark.{m}" for m in LAYER_MODULES]
    for pkg in LAYER_PACKAGES:
        mod = importlib.import_module(f"torua_spark.{pkg}")
        names += [
            f"torua_spark.{pkg}.{info.name}"
            for info in pkgutil.iter_modules(mod.__path__)
        ]
    return names


def _wrap_class(cls, layer: str, originals: dict) -> None:
    for name, attr in list(vars(cls).items()):
        if name.startswith("_"):
            continue
        if isinstance(attr, classmethod):
            wrapped = _wrap(attr.__func__, layer)
            originals[id(attr.__func__)] = wrapped
            setattr(cls, name, classmethod(wrapped))
        elif inspect.isfunction(attr):
            wrapped = _wrap(attr, layer)
            originals[id(attr)] = wrapped
            setattr(cls, name, wrapped)


def install() -> None:
    """Wrap every layer module."""
    if "torua_spark.queries" in sys.modules:
        raise RuntimeError("install() must run before torua_spark.queries is imported")
    originals: dict[int, object] = {}
    for modname in layer_modules():
        mod = importlib.import_module(modname)
        layer = modname.removeprefix("torua_spark.")
        for name, obj in list(vars(mod).items()):
            if name.startswith("_") or getattr(obj, "__module__", None) != modname:
                continue
            if inspect.isfunction(obj):
                wrapped = _wrap(obj, layer)
                originals[id(obj)] = wrapped
                setattr(mod, name, wrapped)
            elif inspect.isclass(obj):
                _wrap_class(obj, layer, originals)
    for modname, mod in list(sys.modules.items()):
        if modname.startswith("torua_spark") and mod is not None:
            for name, obj in list(vars(mod).items()):
                wrapped = originals.get(id(obj))
                if wrapped is not None and wrapped is not obj:
                    setattr(mod, name, wrapped)
