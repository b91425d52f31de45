"""In-memory spans recorded around calls into the engine's public functions.

A span has a name, start and end (``time.perf_counter`` seconds), the
index of its parent span, the iteration it belongs to, and counter
deltas (Spark jobs) taken at its boundaries. Spans are kept in a list
and written out once, when the benchmark ends.

``Tracer.wrap`` replaces a module attribute with a recording wrapper and
remembers the original, so ``restore`` puts the engine back exactly as it
was. Wrappers are installed only for a traced run; the untraced run calls
the engine unmodified.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager, nullcontext
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    iteration: int
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval its direct
    children cover (overlapping children are counted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = []
    for i, s in enumerate(spans):
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(children.get(i, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out.append(s.duration - covered)
    return out


def maybe_span(tracer: Tracer | None, name: str):
    """``tracer.span(name)``, or a no-op context in an untraced pass."""
    return nullcontext() if tracer is None else tracer.span(name)


class Tracer:
    """Records spans; ``counters`` returns cumulative counts to diff."""

    def __init__(self, counters: Callable[[], dict[str, float]] = dict):
        self.spans: list[Span] = []
        self.iteration = 0
        self._counters = counters
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        stack = self._stack()
        before = self._counters()
        s = Span(name, time.perf_counter(), 0.0, stack[-1] if stack else None, self.iteration)
        with self._lock:
            self.spans.append(s)
            idx = len(self.spans) - 1
        stack.append(idx)
        try:
            yield s
        finally:
            stack.pop()
            s.end = time.perf_counter()
            after = self._counters()
            s.counters.update({k: after[k] - before[k] for k in after})

    def wrap(self, owner: object, attr: str, name: str | Callable[..., str],
             on_result: Callable[[Span, object], None] | None = None) -> None:
        """Replace ``owner.attr`` with a wrapper recording a span named
        ``name``, or ``name(*args, **kwargs)`` when it is callable."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name(*args, **kwargs) if callable(name) else name) as s:
                result = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(s, result)
                return result

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
