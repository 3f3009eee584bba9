"""In-memory spans for the traced benchmark mode.

A span has a name, a start and an end (``perf_counter`` seconds), the
index of its parent span and the pass id shared by every span of one
pass or op.  Spans stay in memory while the run measures and are
written once, with per-name self times, when it ends.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict


class Tracer:
    """Records spans while ``enabled``; otherwise ``span`` costs one
    attribute test."""

    def __init__(self, enabled: bool = False):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_id: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "pass": self.pass_id}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        return self_times(self.spans)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "self_s": self.self_times()},
                      fh)


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
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


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name: summed duration minus the part of each span's
    interval that its children cover (children clipped to the parent)."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for rec in spans:
        if rec["parent"] is not None:
            children[rec["parent"]].append((rec["start"], rec["end"]))
    out: dict[str, float] = defaultdict(float)
    for idx, rec in enumerate(spans):
        s, e = rec["start"], rec["end"]
        inner = [(max(cs, s), min(ce, e)) for cs, ce in children[idx]
                 if ce > s and cs < e]
        out[rec["name"]] += (e - s) - _covered(inner)
    return dict(out)
