"""In-memory spans for the traced run, recorded from the benchmark's side of
each call into the program.

A span has a name, a start, an end, the id of the span that caused it and
the run id. Spans are kept in a list and written out when the run ends.
A span's self time is its duration minus the part of that interval its
child spans cover.
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
    run: str

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; ``enabled=False`` makes every call a no-op so the
    untraced run executes the same code path."""

    def __init__(self, run: str, enabled: bool = True):
        self.run = run
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        s = Span(len(self.spans), name, time.perf_counter(), 0.0,
                 self._stack[-1] if self._stack else None, self.run)
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span called ``name``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def wrap_modules(self, prefix: str, span_name) -> set[str]:
        """Record every call into a public function defined in a loaded
        module under ``prefix`` as a span named ``span_name(module)``.

        The wrapper replaces the function wherever a loaded module holds
        it, so calls through names imported before this one are recorded
        too. Returns the names of the wrapped modules."""
        wrapped, names = {}, set()
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name + ".").startswith(prefix + "."):
                continue
            for attr, fn in vars(mod).items():
                if (inspect.isfunction(fn) and fn.__module__ == mod_name
                        and not attr.startswith("_")):
                    wrapped[fn] = self.wrap(span_name(mod_name), fn)
                    names.add(mod_name)
        for mod in list(sys.modules.values()):
            ns = getattr(mod, "__dict__", None)
            if not isinstance(ns, dict):
                continue
            for attr, v in list(ns.items()):
                if inspect.isfunction(v) and v in wrapped:
                    ns[attr] = wrapped[v]
        return names

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals,
    each clipped to the parent's interval."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        kids = [(max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.id, [])]
        out[s.id] = s.duration - union_s([k for k in kids if k[1] > k[0]])
    return out

