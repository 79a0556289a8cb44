"""In-memory spans for the traced run.

A span records name, layer, start, end, parent span and run id. Spans are
kept in a list and written out once, at the end of the run. A layer's self
time is the time its spans cover minus the part of that interval their
child spans cover.

Spans come from the benchmark's own files: around the calls it makes into
each layer, and, in the traced run only, around public entry points that a
pipeline calls internally (``Tracer.wrap``). No program file is edited.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op."""

    def __init__(self, enabled: bool, run_id: str = "run"):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._restore: list = []

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(sid, name, layer, time.perf_counter(), 0.0, parent, self.run_id))
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid].end = time.perf_counter()

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counts[name] += n

    def wrap(self, owner, attr: str, name: str, layer: str, after=None) -> None:
        """Replace ``owner.attr`` by a spanned wrapper until ``unwrap()``.
        ``after(result, args, kwargs)`` runs inside the span, for counts."""
        original = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name, layer):
                out = original(*args, **kwargs)
                if after is not None:
                    after(out, args, kwargs)
                return out

        setattr(owner, attr, wrapper)
        self._restore.append((owner, attr, original))

    def unwrap(self) -> None:
        while self._restore:
            owner, attr, original = self._restore.pop()
            setattr(owner, attr, original)

    # ------------------------------------------------------------ reports

    def self_times(self) -> dict[int, float]:
        """Per span: duration minus the union of its children's intervals."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out = {}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(children[s.id], key=lambda c: c.start):
                lo, hi = max(c.start, s.start), min(c.end, s.end)
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s.id] = max(0.0, (s.end - s.start) - covered)
        return out

    def layer_self_s(self) -> dict[str, float]:
        st = self.self_times()
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.layer] += st[s.id]
        return dict(out)

    def total_s(self, name: str) -> float:
        """Summed duration of the spans called ``name`` (outermost only, so
        a re-entrant call is not counted twice)."""
        by_id = {s.id: s for s in self.spans}

        def nested(s: Span) -> bool:
            p = s.parent
            while p is not None:
                if by_id[p].name == name:
                    return True
                p = by_id[p].parent
            return False

        return sum(s.end - s.start for s in self.spans if s.name == name and not nested(s))

    def dump(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": [asdict(s) for s in self.spans],
                       "counts": dict(self.counts), **(extra or {})}, f)
