"""In-memory span recorder for the traced run.

A span is (name, start, end, parent, op). The benchmark opens one
around each of its own calls into a layer; spans of one operation share
an op id. Timestamps are wall-clock nanoseconds (`time.time_ns`) so they
line up with the millisecond timestamps of Spark's event log.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    op: str
    parent: int | None
    start_ns: int
    end_ns: int = 0


class Tracer:
    """Records spans when enabled; a disabled tracer times nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str):
        if not self.enabled:
            yield
            return
        s = Span(
            len(self.spans), name, op, self._stack[-1] if self._stack else None,
            time.time_ns(),
        )
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield
        finally:
            s.end_ns = time.time_ns()
            self._stack.pop()

    def self_ms(self) -> list[tuple[Span, float]]:
        """Each span with its self time: its duration minus the part of
        its interval that its children cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = []
        for s in self.spans:
            covered = union_ns(
                [(c.start_ns, c.end_ns) for c in children.get(s.id, [])]
            )
            out.append((s, (s.end_ns - s.start_ns - covered) / 1e6))
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s, self_ms in self.self_ms():
                f.write(json.dumps(dict(asdict(s), self_ms=self_ms)) + "\n")


def union_ns(intervals: list[tuple[int, int]]) -> int:
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_start, cur_end = 0, None, None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total
