"""In-memory spans around calls into engine layers.

A span records its name, start, end, parent and the run id. While a
span is open, the Spark job group is set to the span id, so the event
log's jobs (and through them stages and tasks) map back to spans; see
`eventlog.job_group_metrics`. Spans stay in memory and are written
once, when the benchmark ends (`Tracer.dump`).

With tracing off, `span` is a no-op and `materialize` returns the
DataFrame untouched, so the untraced pass runs the engine's plan as a
user would: lazily, forced by the pass's own actions.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Callable


@dataclass
class Span:
    span_id: str
    name: str
    parent: str | None
    run_id: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """span_id -> duration minus the part of it its children cover."""
    children: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {s.span_id: s.duration - _covered(
        [(max(lo, s.start), min(hi, s.end))
         for lo, hi in children.get(s.span_id, [])])
        for s in spans}


class Tracer:
    """Span recorder. `set_group(span_id_or_None)` labels Spark jobs."""

    def __init__(self, enabled: bool, run_id: str,
                 set_group: Callable[[str | None], None] | None = None,
                 clock: Callable[[], float] = time.perf_counter):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._set_group = set_group or (lambda _gid: None)
        self._clock = clock

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(f"{self.run_id}.{len(self.spans)}", name,
                 parent.span_id if parent else None, self.run_id,
                 self._clock(), attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s.span_id)
        try:
            yield s
        finally:
            s.end = self._clock()
            self._stack.pop()
            self._set_group(parent.span_id if parent else None)

    def materialize(self, df):
        """Traced: persist and count at the span boundary, so the layer's
        work runs inside its span. Untraced: leave the plan lazy."""
        if self.enabled:
            df = df.persist()
            df.count()
        return df

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
