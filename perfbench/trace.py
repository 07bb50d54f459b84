"""In-memory span recorder that wraps the crawl's public calls from outside.

The benchmark never edits the program: it replaces module attributes and
class methods with thin wrappers that open a span around the original
call, and puts the originals back when the run ends.  Spans live in a
list and are written out once, after the run.

Spans opened on a thread that has no open span of its own (the worker
threads ``run_epoch`` starts for its concurrent writes) take the current
*root* span -- the epoch being run -- as their parent, so every span of
an epoch can be attributed to it.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    thread: int
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return (self.end or self.start) - self.start


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(parent: Span, children) -> float:
    """Parent duration minus the part of its interval its children cover.

    Children may overlap each other (concurrent writes from a thread
    pool), so their covered time is the length of the union of their
    intervals clipped to the parent, never the sum of their durations.
    """
    clipped = [
        (max(c.start, parent.start), min(c.end, parent.end))
        for c in children
        if c.end is not None
    ]
    return max(0.0, parent.dur - union_length(clipped))


class Tracer:
    """Records spans; ``enabled=False`` makes every call a no-op."""

    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: int | None = None
        self._patched: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, root: bool = False, **attrs):
        """Open a span; ``root=True`` makes it the fallback parent of
        spans opened on threads that have no span open."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        sp = Span(next(self._ids), name, time.time(), None, parent,
                  threading.get_ident(), dict(attrs))
        with self._lock:
            self.spans.append(sp)
        stack.append(sp.id)
        prev_root = self._root
        if root:
            self._root = sp.id
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            if root:
                self._root = prev_root

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.id]

    def descendants(self, sp: Span) -> list[Span]:
        by_parent: dict[int | None, list[Span]] = {}
        for s in self.spans:
            by_parent.setdefault(s.parent, []).append(s)
        out, todo = [], [sp.id]
        while todo:
            for c in by_parent.get(todo.pop(), []):
                out.append(c)
                todo.append(c.id)
        return out

    # -- wrapping --------------------------------------------------------------

    def wrap(self, owner, attr: str, name: str | None = None, after=None,
             name_of=None):
        """Replace ``owner.attr`` with a spanning wrapper.

        ``name_of(args, kwargs)`` may derive the span name from the call;
        ``after(span, result, args, kwargs)`` runs once the span has
        closed, inside a ``trace.after`` span of its own, and may attach
        attributes to the closed span.  Static and class methods keep
        their descriptor kind.
        """
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        kind = type(raw) if isinstance(raw, (classmethod, staticmethod)) else None
        fn = raw.__func__ if kind else raw
        label = name or f"{getattr(owner, '__name__', owner)}.{attr}"
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            sname = name_of(args, kwargs) if name_of else label
            with tracer.span(sname) as sp:
                res = fn(*args, **kwargs)
            if after is not None and sp is not None:
                with tracer.span("trace.after"):
                    after(sp, res, args, kwargs)
            return res

        setattr(owner, attr, kind(wrapper) if kind else wrapper)
        self._patched.append((owner, attr, raw))
        return wrapper

    def restore(self) -> None:
        """Put back every original wrapped by :meth:`wrap`, newest first."""
        while self._patched:
            owner, attr, raw = self._patched.pop()
            setattr(owner, attr, raw)
