"""In-memory spans, and the function wrappers of the traced run.

A span is one dict: name, start, end (epoch seconds, the event log's
clock), parent span id and the query it belongs to. Spans are kept in
memory and written out by the caller when the run ends.

``install_wrappers`` replaces the public functions of the engine modules
the benchmark traces with span-recording wrappers. It must run before the
registry is imported: registry modules bind these functions by name at
import time, and only a binding made after the patch sees the wrapper.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import time
from collections.abc import Iterator
from contextlib import contextmanager

PKG = "python_mapreduce_spark"

# Module -> layer name used as the span prefix.
WRAPPED_MODULES = {
    f"{PKG}.sources.readers": "sources",
    f"{PKG}.sources.sinks": "sources",
    f"{PKG}.mapreduce": "mapreduce",
    f"{PKG}.streaming.incremental": "streaming",
}
# The iterative driver loops of llm.dedup (one span per loop call).
LOOP_FUNCTIONS = ("connected_components", "hits_scores", "kcore", "label_propagation")


class Tracer:
    """Records nested spans; ``query`` tags every span opened while set."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.query: str | None = None
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str) -> Iterator[dict]:
        rec = {
            "id": len(self.spans),
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "query": self.query,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part its direct children cover."""
    child_cover: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            child_cover.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - union_length(child_cover.get(s["id"], []))
        for s in spans
    }


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def _wrap(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return wrapper


def install_wrappers(tracer: Tracer) -> list[str]:
    """Wrap the traced modules' public functions; return the wrapped names."""
    if f"{PKG}.registry.core" in sys.modules:
        raise RuntimeError("install_wrappers must run before the registry is imported")
    replaced: dict[int, object] = {}
    names: list[str] = []
    targets = [(mod, layer, None) for mod, layer in WRAPPED_MODULES.items()]
    targets.append((f"{PKG}.llm.dedup", "llm", LOOP_FUNCTIONS))
    for modname, layer, only in targets:
        mod = importlib.import_module(modname)
        for attr, fn in list(vars(mod).items()):
            if only is None:
                if attr.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != modname:
                    continue
            elif attr not in only:
                continue
            wrapped = _wrap(tracer, f"{layer}.{attr}", fn)
            setattr(mod, attr, wrapped)
            replaced[id(fn)] = wrapped
            names.append(f"{layer}.{attr}")
    # Packages re-export some of these (``sources.load_table``): rebind
    # every already-imported alias of a wrapped function too.
    for modname, mod in list(sys.modules.items()):
        if not modname.startswith(PKG) or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            if id(val) in replaced and val is not replaced[id(val)]:
                setattr(mod, attr, replaced[id(val)])
    return names
