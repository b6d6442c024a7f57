"""In-memory spans recorded around the benchmark's calls into each
layer, and the namespace patching that puts spans around engine
functions without editing the engine.

A span is ``(id, name, start, end, parent, op)``. Spans nest through a
stack, so a span's parent is the span open when it started. Self time
is a span's duration minus the part of it that its children cover.
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans while ``active``; when inactive ``span`` records
    nothing, so patched functions cost one flag test."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.active = False
        self._stack: list[int] = []
        self._op: str | None = None

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.active:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if op is not None:
            self._op = op
        rec = Span(sid, name, time.perf_counter(), 0.0, parent, self._op)
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            rec.end = time.perf_counter()
            self._stack.pop()
            if op is not None:
                self._op = None

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals,
    each child clipped to its parent."""
    children: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.id: s for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in by_id:
            p = by_id[s.parent]
            children.setdefault(p.id, []).append(
                (max(s.start, p.start), min(s.end, p.end))
            )
    return {s.id: s.dur - covered(children.get(s.id, [])) for s in spans}


def traced(tracer: Tracer, name: str, fn):
    """``fn`` wrapped in a span. ``functools.wraps`` keeps the module and
    qualified name, so pickling a wrapped function still resolves to
    the original on a worker."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return wrapper


def module_functions(module) -> dict[str, object]:
    """Plain (non-generator) functions defined in ``module`` itself."""
    return {
        name: fn
        for name, fn in vars(module).items()
        if inspect.isfunction(fn)
        and fn.__module__ == module.__name__
        and not name.startswith("__")
        and not inspect.isgeneratorfunction(fn)
    }


class Patcher:
    """Replaces functions by wrappers in every loaded module under a
    package prefix, and restores them on ``restore``.

    A module that did ``from m import f`` holds its own reference to
    ``f``; patching only ``m`` would miss every such call, so each
    namespace that holds the original object is patched."""

    def __init__(self, prefix: str) -> None:
        self.prefix = prefix
        self._undo: list[tuple[object, str, object]] = []

    def patch_functions(self, replacements: dict[int, tuple[object, object]]) -> int:
        """``replacements`` maps ``id(original)`` to ``(original,
        wrapper)``. Returns the number of namespace slots patched."""
        count = 0
        for modname, mod in list(sys.modules.items()):
            if mod is None or not modname.startswith(self.prefix):
                continue
            for attr, val in list(vars(mod).items()):
                hit = replacements.get(id(val))
                if hit is not None and hit[0] is val:
                    self._undo.append((mod, attr, val))
                    setattr(mod, attr, hit[1])
                    count += 1
        return count

    def patch_attr(self, owner, attr: str, wrapper) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, val in reversed(self._undo):
            setattr(owner, attr, val)
        self._undo.clear()
