"""Spans recorded by the benchmark around each public call.

A span has a name, start and end (epoch ms, so it lines up with the
event log), a parent and an id. With tracing on, the id is also set as
the Spark job group while the span is open, so every job the call runs
can be attributed to it; with tracing off the spans still time the
operations (a few microseconds each) but touch nothing in Spark.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import asdict, dataclass, field
from typing import Any, Iterator, Optional

from perfbench.stats import covered, self_time


@dataclass
class Span:
    id: str
    name: str
    parent: Optional[str]
    start_ms: float
    end_ms: float = 0.0
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def dur_ms(self) -> float:
        return self.end_ms - self.start_ms


class Tracer:
    """Collects spans in memory; ``sc`` (a SparkContext) turns on job
    group tagging."""

    def __init__(self, sc: Any = None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs: Any) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=f"span-{len(self.spans)}",
            name=name,
            parent=parent.id if parent else None,
            start_ms=0.0,
            attrs=dict(attrs),
        )
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(s.id, name)
        # epoch anchor + monotonic duration: comparable with the event
        # log's epoch-ms timestamps, immune to clock steps mid-span
        s.start_ms = time.time() * 1000.0
        t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.end_ms = s.start_ms + (time.perf_counter() - t0) * 1000.0
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(parent.id, parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def named(self, name: str) -> list[Span]:
        """Spans called ``name`` outside every ``setup.*`` span (warm-up
        calls are not measurements)."""
        by_id = {x.id: x for x in self.spans}

        def under_setup(s: Span) -> bool:
            p = by_id.get(s.parent)
            while p is not None:
                if p.name.startswith("setup."):
                    return True
                p = by_id.get(p.parent)
            return False

        return [s for s in self.spans if s.name == name and not under_setup(s)]

    def innermost(self, t_ms: float) -> Optional[str]:
        """Id of the deepest span open at ``t_ms`` (spans nest, so it is
        the latest-starting one that contains it)."""
        best = None
        for s in self.spans:
            if s.start_ms <= t_ms <= s.end_ms and (best is None or s.start_ms >= best.start_ms):
                best = s
        return best.id if best else None

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.id]

    def subtree_ids(self, s: Span) -> list[str]:
        """``s`` and every span below it: the job groups its work ran in."""
        out, todo = [], [s]
        while todo:
            cur = todo.pop()
            out.append(cur.id)
            todo.extend(self.children(cur))
        return out

    def self_ms(self, s: Span) -> float:
        return self_time(
            s.start_ms, s.end_ms, [(c.start_ms, c.end_ms) for c in self.children(s)]
        )

    def driver_only_ms(self, s: Span, jobs: list[tuple[int, int]]) -> float:
        """Part of ``s`` during which no Spark job was running."""
        return s.dur_ms - covered(s.start_ms, s.end_ms, jobs)

    def dump(self) -> list[dict[str, Any]]:
        return [
            dict(asdict(s), dur_ms=s.dur_ms, self_ms=self.self_ms(s))
            for s in self.spans
        ]
