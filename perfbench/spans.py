"""In-memory spans around the benchmark's calls into each layer.

A span records (name, start, end, parent).  Spans are kept in memory and
written as one JSON file when the run ends.  Self time is a span's duration
minus the part of it that its child spans cover.  ``overhead_s`` is the
time the tracer spends on its own bookkeeping inside the spans it opens.
"""

from __future__ import annotations

import contextlib
import dataclasses
import json
import time


@dataclasses.dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None

    @property
    def seconds(self) -> float:
        return (self.end if self.end is not None else time.perf_counter()) - self.start


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str):
        t_in = time.perf_counter()
        sp = Span(len(self.spans), name, self._stack[-1] if self._stack else None, t_in)
        self.spans.append(sp)
        self._stack.append(sp.id)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t_in
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - sp.end

    def self_seconds(self, sp: Span) -> float:
        covered = []
        for c in self.spans:
            if c.parent == sp.id and c.end is not None:
                covered.append((max(c.start, sp.start), min(c.end, sp.end)))
        covered.sort()
        total, cur_s, cur_e = 0.0, None, None
        for s, e in covered:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        return sp.seconds - total

    def write(self, path: str) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        rows = [
            {
                "id": s.id,
                "name": s.name,
                "parent": s.parent,
                "start_s": s.start - t0,
                "end_s": s.end - t0,
                "self_s": self.self_seconds(s),
            }
            for s in self.spans
            if s.end is not None
        ]
        with open(path, "w") as f:
            json.dump({"spans": rows}, f, indent=1)
