"""In-memory span recorder and the wrappers that put spans around the calls
into each engine module.

Spans are recorded from the benchmark's side of the call only: every
function a target module exposes is swapped, in every engine module that
holds a reference to it, for a wrapper that opens a span while the call
runs. Spark plans lazily, so an operator span measures plan construction
plus the jobs the operator runs eagerly; data-path execution lands in the
write or collect span of the operation.
"""

from __future__ import annotations

import functools
import inspect
import sys
import time
from contextlib import contextmanager
from typing import Callable, Iterator

from perfbench.stats import Span

PACKAGE = "dbms_data_anonymity_differential_privacy_spark"

# engine module -> layer name used in the per-layer metric names
LAYERS = {
    f"{PACKAGE}.pipelines": "pipelines",
    f"{PACKAGE}.operators.kanonymity": "operators.kanonymity",
    f"{PACKAGE}.operators.tcloseness": "operators.tcloseness",
    f"{PACKAGE}.operators.clustering": "operators.clustering",
    f"{PACKAGE}.operators.metrics": "operators.metrics",
    f"{PACKAGE}.operators.dp": "operators.dp",
    f"{PACKAGE}.operators.util": "operators.util",
    f"{PACKAGE}.functions.binning": "functions.binning",
    f"{PACKAGE}.sources.writers": "sources.writers",
    f"{PACKAGE}.streaming.anonymize": "streaming.anonymize",
}


class SpanRecorder:
    """Collects spans of the current operation while ``op_id`` is set.
    Single-threaded: the benchmark drives the engine from one thread."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op_id: int | None = None
        self._stack: list[int] = []
        self._next_id = 0

    @contextmanager
    def span(self, layer: str, name: str) -> Iterator[None]:
        if self.op_id is None:
            yield
            return
        span_id = self._next_id
        self._next_id += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(span_id)
        start = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(
                Span(self.op_id, span_id, parent, layer, name, start, time.perf_counter())
            )

    def wrap(self, layer: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, fn.__name__):
                return fn(*args, **kwargs)

        return traced


def _exposed_functions(module, engine_modules) -> dict[str, Callable]:
    """Functions defined in ``module`` that callers can reach: public names,
    and private names another engine module imports."""
    imported = {
        id(v) for m in engine_modules if m is not module for v in vars(m).values()
    }
    return {
        name: fn
        for name, fn in vars(module).items()
        if inspect.isfunction(fn)
        and fn.__module__ == module.__name__
        and not name.startswith("__")
        and (not name.startswith("_") or id(fn) in imported)
    }


class Instrumentation:
    """Swaps the target modules' functions for span wrappers; ``restore``
    puts the originals back."""

    def __init__(self, recorder: SpanRecorder) -> None:
        self.recorder = recorder
        self._undo: list[tuple[object, str, Callable]] = []

    def install(self) -> None:
        import importlib

        for name in LAYERS:
            importlib.import_module(name)
        engine = [m for n, m in list(sys.modules.items()) if n == PACKAGE or n.startswith(PACKAGE + ".")]
        swap: dict[int, Callable] = {}
        for name, layer in LAYERS.items():
            for fn in _exposed_functions(sys.modules[name], engine).values():
                swap[id(fn)] = self.recorder.wrap(layer, fn)
        for m in engine:
            for attr, value in list(vars(m).items()):
                wrapper = swap.get(id(value))
                if wrapper is not None:
                    self._undo.append((m, attr, value))
                    setattr(m, attr, wrapper)

    def restore(self) -> None:
        for m, attr, value in reversed(self._undo):
            setattr(m, attr, value)
        self._undo.clear()
