"""In-memory spans recorded at the benchmark's own layer boundaries.

A span has a name, start and end (seconds, `time.perf_counter`), the
id of its parent span, the op and pass it belongs to, and a dict of
counts attached at the same boundary. Spans stay in memory; the worker
writes them once, at the end of the run.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: str
    start: float
    pass_idx: int = 0
    end: float = 0.0
    counts: dict = field(default_factory=dict)


class Tracer:
    """Records spans when `enabled`; otherwise every call is a no-op
    that still runs the wrapped block."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.pass_idx = 0
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, op: str = ""):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None,
                 op or (parent.op if parent else ""), time.perf_counter(),
                 self.pass_idx)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def as_records(self) -> list[dict]:
        return [vars(s) for s in self.spans]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of each span: its duration minus its children's. The
    tracer opens spans on a stack, so children never overlap and never
    outlive their parent."""
    child_s: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - child_s.get(s["id"], 0.0) for s in spans}


def layer_of(name: str) -> str:
    """Layer a span name belongs to: `lakehouse.merge` -> `lakehouse`."""
    return name.split(".", 1)[0]


def self_time_by_layer(spans: list[dict]) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        layer = layer_of(s["name"])
        out[layer] = out.get(layer, 0.0) + st[s["id"]]
    return out
