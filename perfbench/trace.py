"""Traced-run recorder: spans around public functions at layer
boundaries, kept in memory and written out when the run ends.

The recorder wraps functions from outside the program: an attribute of
a module, a class or one instance is swapped for a wrapper that records
a span (name, start, end, parent, request id) and calls the original.
Nothing is wrapped unless a traced run asks for it, and ``unwrap``
restores every original.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict

from perfbench.stats import merged_length


class Span:
    __slots__ = ("name", "start", "end", "parent", "request")

    def __init__(self, name, start, parent, request):
        self.name = name
        self.start = start
        self.end = None
        self.parent = parent
        self.request = request

    def as_dict(self, index: int) -> dict:
        return {
            "id": index,
            "name": self.name,
            "start": self.start,
            "end": self.end,
            "parent": self.parent,
            "request": self.request,
        }


class Recorder:
    """In-memory span store plus the wrappers that feed it."""

    def __init__(self):
        self.spans: list[Span] = []
        self.request = None  # id shared by every span of one request
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object, bool]] = []

    # -- recording -----------------------------------------------------
    def span(self, name: str):
        """Context manager recording one span (used for phases the
        benchmark itself drives, such as one served request)."""
        return _SpanCtx(self, name)

    def _open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), parent, self.request))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self._stack.pop()

    def patch(self, owner, attr: str, replacement) -> None:
        """Set ``owner.attr`` to ``replacement`` until ``unwrap``."""
        had_own = attr in getattr(owner, "__dict__", {})
        self._patched.append((owner, attr, getattr(owner, attr), had_own))
        setattr(owner, attr, replacement)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a recording wrapper.  A call made
        while a span of the same name is already open (a method calling
        its sibling) is passed through unrecorded, so a layer's calls
        are counted once."""
        original = getattr(owner, attr)
        rec = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            if rec._stack and rec.spans[rec._stack[-1]].name == name:
                return original(*args, **kwargs)
            idx = rec._open(name)
            try:
                return original(*args, **kwargs)
            finally:
                rec._close(idx)

        self.patch(owner, attr, wrapper)

    def unwrap(self) -> None:
        for owner, attr, original, had_own in reversed(self._patched):
            if had_own:
                setattr(owner, attr, original)
            else:
                delattr(owner, attr)  # instance attribute over a method
        self._patched.clear()

    # -- analysis ------------------------------------------------------
    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per span name: each span's duration
        minus the part of its interval its children cover."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append((s.start, s.end))
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            kids = [
                (max(a, s.start), min(b, s.end))
                for a, b in children.get(i, ())
                if b > s.start and a < s.end
            ]
            out[s.name] += (s.end - s.start) - merged_length(kids)
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps(s.as_dict(i)) + "\n")


class _SpanCtx:
    def __init__(self, rec: Recorder, name: str):
        self.rec, self.name, self.idx = rec, name, None

    def __enter__(self):
        self.idx = self.rec._open(self.name)
        return self

    def __exit__(self, *exc):
        self.rec._close(self.idx)
        return False
