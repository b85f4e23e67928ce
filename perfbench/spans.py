"""In-memory spans around the benchmark's calls into the program.

A span has a name, start, end and parent; every span of one run shares
the run's id. When a status store is attached, the SQL executions a
span ran (and no child span claimed) are attached to it. Spans are
written once, when the run ends.
"""
from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    executions: list = field(default_factory=list)  # statusstore.Execution


class Tracer:
    def __init__(self, run_id: str, store=None):
        self.run_id = run_id
        self.store = store
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._claimed: set[int] = set()

    @contextmanager
    def span(self, name: str, **attrs):
        sp = Span(len(self.spans), name,
                  self._stack[-1].id if self._stack else None,
                  time.perf_counter(), attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        first = self.store.last_id() if self.store else None
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.store is not None:
                for ex in self.store.since(first):
                    if ex.id not in self._claimed:
                        self._claimed.add(ex.id)
                        sp.executions.append(ex)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def executions(self, root: Span) -> list:
        """Executions attached to `root` or to its descendants."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.extend(s.executions)
            todo.extend(kids.get(s.id, []))
        return sorted(out, key=lambda e: e.id)

    def self_time(self, sp: Span) -> float:
        """The span's duration minus the part its children cover."""
        covered, last = 0.0, sp.start
        for c in sorted((c for c in self.spans if c.parent == sp.id),
                        key=lambda c: c.start):
            lo, hi = max(c.start, last), min(c.end, sp.end)
            if hi > lo:
                covered += hi - lo
                last = hi
        return (sp.end - sp.start) - covered

    def self_times(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for sp in self.spans:
            out[sp.name] = out.get(sp.name, 0.0) + self.self_time(sp)
        return out

    def write(self, path: str) -> None:
        t0 = self.spans[0].start if self.spans else 0.0
        rows = []
        for sp in self.spans:
            d = {"trace_id": self.run_id, "id": sp.id, "name": sp.name,
                 "parent": sp.parent, "start": sp.start - t0,
                 "end": sp.end - t0, "self_s": self.self_time(sp),
                 "attrs": sp.attrs}
            d["executions"] = [
                {"id": e.id, "description": e.description,
                 "duration_s": e.duration_s,
                 "nodes": [{"name": n.name.strip(), "desc": n.desc[:200],
                            "metrics": n.metrics}
                           for n in e.nodes if n.metrics]}
                for e in sp.executions]
            rows.append(d)
        with open(path, "w") as f:
            json.dump({"trace_id": self.run_id, "spans": rows,
                       "self_s_by_name": self.self_times()}, f, indent=1)
