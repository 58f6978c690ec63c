"""In-memory span recorder for the traced run.

A span is (name, start, end, parent, run id), recorded around the
benchmark's own calls into each layer; nothing is recorded inside the
program.  Spans stay in memory and are written out once, when the run
ends.  A layer's self time is its span's duration minus the part of
that interval its child spans cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from typing import Dict, Iterator, List, Optional, Tuple


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: Optional[int]
    run_id: str


class Recorder:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: List[Span] = []
        self._stack: List[int] = []

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        parent = self._stack[-1] if self._stack else None
        span_id = len(self.spans)
        rec = Span(span_id, name, time.perf_counter(), 0.0, parent, self.run_id)
        self.spans.append(rec)
        self._stack.append(span_id)
        try:
            yield
        finally:
            self._stack.pop()
            rec.end = time.perf_counter()

    def self_times(self) -> Dict[int, float]:
        return self_times(self.spans)

    def write(self, path: str) -> None:
        st = self.self_times()
        with open(path, "w") as fh:
            json.dump(
                [dict(asdict(s), self_s=st[s.span_id]) for s in self.spans],
                fh,
                indent=0,
            )


def _covered(intervals: List[Tuple[float, float]]) -> float:
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


def self_times(spans: List[Span]) -> Dict[int, float]:
    children: Dict[int, List[Tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.span_id: (s.end - s.start) - _covered(
            [(max(lo, s.start), min(hi, s.end)) for lo, hi in children.get(s.span_id, [])]
        )
        for s in spans
    }


def layer_sum_gap(parts: List[float], wall: float) -> float:
    """|sum of layer times - wall| / wall."""
    return abs(sum(parts) - wall) / wall
