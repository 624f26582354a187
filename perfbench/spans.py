"""Spans around the calls into each layer of the product.

The product carries no tracing of its own yet, so the benchmark wraps
the public functions of each layer from outside (``install``) and
records one span per call: name, start, end, parent span and request
id. Spans stay in memory and are written out when the run ends. A
span's self time is its duration minus the part of it that its child
spans cover; a request's root self time is the time no layer span
covers, reported as its own remainder.

Recording is switched per thread, so one process can interleave traced
and untraced operations and report the difference as the tracing
overhead.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    rid: str
    parent: int | None
    t0: float
    t1: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self._roots: dict[str, int] = {}

    # -- recording -------------------------------------------------------

    def active(self) -> bool:
        return getattr(self._local, "rid", None) is not None

    @contextmanager
    def request(self, rid: str, name: str):
        """Root span of one operation; turns recording on for this
        thread until it ends."""
        prev = (getattr(self._local, "rid", None),
                getattr(self._local, "stack", None))
        self._local.rid, self._local.stack = rid, []
        try:
            with self.span(name) as root:
                with self._lock:
                    self._roots[rid] = root.sid
                yield root
        finally:
            self._local.rid, self._local.stack = prev

    @contextmanager
    def adopt(self, rid: str | None):
        """Continue request ``rid`` on another thread (the REST handler
        thread serving a client's request). Spans opened here become
        children of the request's root span."""
        with self._lock:
            parent = self._roots.get(rid) if rid else None
        if parent is None:
            yield
            return
        prev = (getattr(self._local, "rid", None),
                getattr(self._local, "stack", None))
        self._local.rid, self._local.stack = rid, [parent]
        try:
            yield
        finally:
            self._local.rid, self._local.stack = prev

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.active():
            yield None
            return
        stack = self._local.stack
        s = Span(next(self._ids), name, self._local.rid,
                 stack[-1] if stack else None, time.perf_counter(),
                 attrs=attrs)
        stack.append(s.sid)
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    # -- patching --------------------------------------------------------

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span named
        ``name`` while this thread is recording."""
        original = owner.__dict__[attr]
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            if not tracer.active():
                return original(*args, **kwargs)
            with tracer.span(name):
                return original(*args, **kwargs)

        self.patch(owner, attr, wrapper)

    def patch(self, owner, attr: str, replacement) -> None:
        """Set ``owner.attr``; ``uninstall`` puts the original back."""
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, replacement)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.t0):
                f.write(json.dumps({
                    "sid": s.sid, "name": s.name, "rid": s.rid,
                    "parent": s.parent, "start": s.t0, "end": s.t1,
                    **({"attrs": s.attrs} if s.attrs else {})},
                    default=str) + "\n")


# -- analysis ------------------------------------------------------------


def covered(lo: float, hi: float, intervals: list[tuple[float, float]]
            ) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """sid -> duration minus the part covered by its direct children."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.t0, s.t1))
    return {s.sid: (s.t1 - s.t0) - covered(s.t0, s.t1, kids.get(s.sid, []))
            for s in spans}


def layer_totals(spans: list[Span]) -> dict[str, dict[str, float]]:
    """rid -> span name -> summed self time (seconds), plus the root's
    self time under ``uncovered``."""
    st = self_times(spans)
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        per = out.setdefault(s.rid, {})
        key = "uncovered" if s.parent is None else s.name
        per[key] = per.get(key, 0.0) + st[s.sid]
    return out


def outermost_counts(spans: list[Span], prefix: str) -> dict[str, int]:
    """rid -> number of spans named ``prefix*`` not nested inside
    another such span (a read_text that calls read_bytes counts once)."""
    by_id = {s.sid: s for s in spans}
    out: dict[str, int] = {}
    for s in spans:
        if not s.name.startswith(prefix):
            continue
        p = by_id.get(s.parent)
        while p is not None and not p.name.startswith(prefix):
            p = by_id.get(p.parent)
        if p is None:
            out[s.rid] = out.get(s.rid, 0) + 1
    return out
