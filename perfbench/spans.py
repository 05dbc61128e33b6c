"""Spans recorded from outside the engine, and the arithmetic over them.

A `Tracer` wraps engine functions in place (module attributes, every
`from x import f` binding of them, and class methods), so each call opens a
span: name, start, end, parent span and trace id (the query, job or night
the call belongs to). Spans stay in memory and are written out once, when
the run ends. Nothing here changes engine code.
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import time
from collections.abc import Callable, Iterable
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    trace: str | None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.trace: str | None = None
        self._stack: list[int] = []

    def call(self, name: str, fn: Callable, *args, **kwargs):
        """``fn(*args, **kwargs)`` inside a span named ``name``."""
        if not self.enabled:
            return fn(*args, **kwargs)
        span = Span(name, time.perf_counter(), 0.0, self._stack[-1] if self._stack else None, self.trace)
        self._stack.append(len(self.spans))
        self.spans.append(span)
        try:
            return fn(*args, **kwargs)
        finally:
            span.end = time.perf_counter()
            self._stack.pop()

    def wrap(self, fn: Callable, name: str) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.call(name, fn, *args, **kwargs)

        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


class Traced:
    """A traced module-level function. It pickles as the original, looked
    up by module and name, so functions that Spark ships to its Python
    workers inside a UDF's closure arrive there untraced."""

    def __init__(self, tracer: Tracer, fn: Callable, name: str):
        functools.update_wrapper(self, fn)
        self._tracer, self._fn, self._name = tracer, fn, name

    def __call__(self, *args, **kwargs):
        return self._tracer.call(self._name, self._fn, *args, **kwargs)

    def __reduce__(self):
        return getattr, (sys.modules[self._fn.__module__], self._fn.__name__)


def patch_function(tracer: Tracer, module, attr: str, name: str, packages: Iterable[str]) -> None:
    """Replace ``module.attr`` and every other binding of the same function
    object in loaded modules under ``packages`` with one traced wrapper."""
    original = getattr(module, attr)
    traced = Traced(tracer, original, name)
    prefixes = tuple(packages)
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(prefixes):
            continue
        for key, value in list(vars(mod).items()):
            if value is original:
                setattr(mod, key, traced)


def patch_module(tracer: Tracer, module, layer: str, packages: Iterable[str]) -> list[str]:
    """Trace every public function defined in ``module`` as ``layer.<fn>``."""
    names = [
        attr
        for attr, value in vars(module).items()
        if not attr.startswith("_")
        and inspect.isfunction(value)
        and value.__module__ == module.__name__
    ]
    for attr in names:
        patch_function(tracer, module, attr, f"{layer}.{attr}", packages)
    return names


def patch_method(tracer: Tracer, cls, attr: str, name: str) -> None:
    setattr(cls, attr, tracer.wrap(getattr(cls, attr), name))


# ---------------------------------------------------------------------------
# Arithmetic over spans
# ---------------------------------------------------------------------------


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [s.dur - union_length(children.get(i, [])) for i, s in enumerate(spans)]


def outermost(spans: list[Span], match: Callable[[str], bool]) -> list[int]:
    """Indices of spans matching ``match`` with no matching ancestor, so a
    layer's time is not counted twice when its functions call each other."""
    out = []
    for i, s in enumerate(spans):
        if not match(s.name):
            continue
        p = s.parent
        while p is not None and not match(spans[p].name):
            p = spans[p].parent
        if p is None:
            out.append(i)
    return out


# ---------------------------------------------------------------------------
# Percentiles
# ---------------------------------------------------------------------------


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in 0..100) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int, candidates=(90, 75, 50), beyond: int = 10) -> int:
    """The highest candidate percentile that leaves at least ``beyond``
    samples above it out of ``n``; the median when none does."""
    for q in candidates:
        if n * (100 - q) / 100.0 >= beyond:
            return q
    return 50
