"""In-memory spans around the benchmark's calls into each engine layer.

A span is (name, start, end, parent, run_id); spans stay in memory and
are written out when the run ends. `NullTracer` has the same interface
and records nothing, so untraced runs execute the same code path.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from typing import Callable, Dict, List, Optional


class Tracer:
    def __init__(self, run_id: str,
                 on_top_level: Optional[Callable[[Optional[str]], None]] = None):
        self.run_id = run_id
        self.spans: List[dict] = []
        self._stack: List[int] = []
        # called with the top-level span's name on entry and None on
        # exit (the runner tags Spark job groups with it)
        self._on_top_level = on_top_level
        self._root: Optional[int] = None

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "run_id": self.run_id}
        self.spans.append(rec)
        top = parent is not None and parent == self._root
        if top and self._on_top_level:
            self._on_top_level(name)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            if top and self._on_top_level:
                self._on_top_level(None)

    @contextmanager
    def root(self, name: str):
        """A root span whose direct children are the layer spans."""
        with self.span(name) as rec:
            self._root = len(self.spans) - 1
            try:
                yield rec
            finally:
                self._root = None

    def add(self, name: str, start: float, end: float, parent: Optional[int],
            **attrs) -> None:
        """A span measured elsewhere (e.g. from the checkpoint manifest)."""
        rec = {"name": name, "start": start, "end": end, "parent": parent,
               "run_id": self.run_id}
        if attrs:
            rec["attrs"] = attrs
        self.spans.append(rec)


class NullTracer:
    @contextmanager
    def span(self, name: str):
        yield None

    root = span

    def add(self, *args, **kwargs) -> None:
        pass


def duration(s: dict) -> float:
    return s["end"] - s["start"]


def _covered(intervals: List[tuple]) -> float:
    """Length of the union of [start, end) intervals."""
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


def self_times(spans: List[dict]) -> Dict[int, float]:
    """Span index -> duration minus the part its children cover."""
    children: Dict[int, List[tuple]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {i: duration(s) - _covered(children.get(i, []))
            for i, s in enumerate(spans)}


def coverage(spans: List[dict], root: int) -> float:
    """Share of the root span's wall covered by its direct children."""
    kids = [(s["start"], s["end"]) for s in spans if s["parent"] == root]
    return _covered(kids) / max(duration(spans[root]), 1e-12)


def layer_self_times(spans: List[dict], roots: List[int]) -> Dict[str, float]:
    """Self time summed per span name over the trees under `roots`."""
    inside = set(roots)
    for i, s in enumerate(spans):  # parents precede their children
        if s["parent"] in inside:
            inside.add(i)
    out: Dict[str, float] = {}
    for i, t in self_times(spans).items():
        if i in inside:
            name = spans[i]["name"]
            out[name] = out.get(name, 0.0) + t
    return out
