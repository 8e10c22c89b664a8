"""Outside-in tracer: spans around calls into the library's public
functions, plus call counters at the py4j and file-system boundaries.

Nothing inside the library is edited. The tracer replaces attributes
on modules and classes with timing wrappers and restores them on
``uninstall()``. A name imported with ``from m import f`` is a second
binding, so it is patched where the caller looks it up (the
``targets`` table in ``layers.py`` lists each such site).

Spans live in memory until the run ends. Each records its name, its
start and end (``time.perf_counter`` seconds), its parent span and
the benchmark op it ran under. The wrappers also time their own
bookkeeping, so a traced run reports how much of its wall the tracer
itself added (``overhead_s``).
"""

from __future__ import annotations

import functools
import threading
from collections import defaultdict
from time import perf_counter

from measure import clip, union_length

NAME, START, END, PARENT, OP, NOTE = range(6)


class Tracer:
    def __init__(self):
        self.spans: list[list] = []
        self.op: int | None = None  # index of the benchmark op running now
        # (counter name, op) -> [calls, seconds]; op None = outside any op
        self.counts: dict[tuple[str, int | None], list] = defaultdict(
            lambda: [0, 0.0]
        )
        self.overhead_s = 0.0
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _patch(self, owner, attr: str, wrapper) -> None:
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, wrapper)

    def wrap(self, owner, attr: str, name: str, note=None) -> None:
        """Record a span named ``name`` around every call of
        ``owner.attr``. ``note(args, result)``, when given, stores a
        value on the span (e.g. whether a refresh rebuilt)."""
        orig = owner.__dict__[attr]
        if isinstance(orig, (staticmethod, classmethod)):
            raise TypeError(f"{owner!r}.{attr} is not a plain function")
        spans, stack_of = self.spans, self._stack

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            e0 = perf_counter()
            stack = stack_of()
            i = len(spans)
            spans.append([name, 0.0, 0.0, stack[-1] if stack else None,
                          self.op, None])
            stack.append(i)
            t0 = perf_counter()
            try:
                out = orig(*args, **kwargs)
            finally:
                t1 = perf_counter()
                stack.pop()
                span = spans[i]
                span[START], span[END] = t0, t1
            if note is not None:
                span[NOTE] = note(args, out)
            self.overhead_s += (t0 - e0) + (perf_counter() - t1)
            return out

        self._patch(owner, attr, wrapper)

    def count(self, owner, attr: str, name: str) -> None:
        """Count calls of ``owner.attr`` and the seconds spent in them,
        per benchmark op; no span."""
        orig = owner.__dict__[attr]
        counts = self.counts

        @functools.wraps(orig)
        def counter(*args, **kwargs):
            t0 = perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                t1 = perf_counter()
                c = counts[(name, self.op)]
                c[0] += 1
                c[1] += t1 - t0
                self.overhead_s += perf_counter() - t1

        self._patch(owner, attr, counter)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


def self_times(spans) -> list[float]:
    """Per span: its duration minus the part of it that its child spans
    cover (children of one span can overlap when they ran on other
    threads, so the covered part is a union, not a sum)."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s[PARENT] is not None:
            children[s[PARENT]].append((s[START], s[END]))
    return [
        (s[END] - s[START])
        - union_length(clip(children.get(i, ()), s[START], s[END]))
        for i, s in enumerate(spans)
    ]


def outermost(spans, names) -> list[int]:
    """Indices of spans named in ``names`` with no ancestor also named
    there, so nested calls of one layer (a multi-table write calling a
    single-table write) are counted once."""
    names = set(names)
    out = []
    for i, s in enumerate(spans):
        if s[NAME] not in names:
            continue
        p = s[PARENT]
        while p is not None and spans[p][NAME] not in names:
            p = spans[p][PARENT]
        if p is None:
            out.append(i)
    return out
