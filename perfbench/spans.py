"""In-memory span tracer for the traced run.

Spans are recorded from the benchmark's own files: around the calls it makes
into each layer, and around layer functions it wraps for the traced run
(``traced`` / ``rebind``). A disabled tracer hands out one shared no-op
context, so untraced passes pay a single attribute check per call site.
"""

from __future__ import annotations

import contextlib
import json
import sys
import time
from collections import Counter, defaultdict
from collections.abc import Callable
from typing import NamedTuple

_NULL = contextlib.nullcontext()


class Span(NamedTuple):
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    job: str | None


class _Open:
    __slots__ = ('tracer', 'name', 'id', 'start')

    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name

    def __enter__(self):
        t = self.tracer
        self.id = t._next_id
        t._next_id += 1
        t._stack.append(self)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        t = self.tracer
        t._stack.pop()
        parent = t._stack[-1].id if t._stack else None
        t.spans.append(Span(self.id, self.name, self.start, end, parent, t.job))
        return False


class Tracer:
    """Spans ``(id, name, start, end, parent, job)`` plus named counters."""

    def __init__(self) -> None:
        self.enabled = False
        self.job: str | None = None
        self.spans: list[Span] = []
        self.counts: Counter[str] = Counter()
        self._stack: list[_Open] = []
        self._next_id = 0

    def span(self, name: str):
        return _Open(self, name) if self.enabled else _NULL

    def count(self, key: str, n: float = 1) -> None:
        if self.enabled:
            self.counts[key] += n

    def innermost(self) -> str | None:
        return self._stack[-1].name if self._stack else None

    def write(self, path: str) -> None:
        with open(path, 'w') as f:
            for s in self.spans:
                f.write(json.dumps(s._asdict()) + '\n')


def self_times(spans: list[Span], scale: dict[str, float] | None = None) -> dict[str, float]:
    """Total self time per span name: each span's duration minus the part of
    its interval covered by the union of its children's intervals, times
    ``scale`` of the span's job where it has one."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        covered = 0.0
        lo_cur = hi_cur = None
        for lo, hi in sorted(children.get(s.id, ())):
            lo, hi = max(lo, s.start), min(hi, s.end)
            if hi <= lo:
                continue
            if hi_cur is None or lo > hi_cur:
                if hi_cur is not None:
                    covered += hi_cur - lo_cur
                lo_cur, hi_cur = lo, hi
            else:
                hi_cur = max(hi_cur, hi)
        if hi_cur is not None:
            covered += hi_cur - lo_cur
        out[s.name] += ((s.end - s.start) - covered) * (scale or {}).get(s.job, 1.0)
    return dict(out)


def traced(tracer: Tracer, name: str, fn: Callable, after=None) -> Callable:
    """``fn`` wrapped in a span; ``after(args, result)`` records counters."""

    def wrapper(*args, **kwargs):
        if not tracer.enabled:
            return fn(*args, **kwargs)
        with tracer.span(name):
            result = fn(*args, **kwargs)
        if after is not None:
            after(args, result)
        return result

    return wrapper


def rebind(original: Callable, wrapper: Callable, prefix: str) -> None:
    """Point every module-level name under ``prefix`` that is bound to
    ``original`` (``from x import f`` copies the binding) at ``wrapper``."""
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == prefix or name.startswith(prefix + '.')):
            continue
        for key, value in list(vars(mod).items()):
            if value is original:
                setattr(mod, key, wrapper)
