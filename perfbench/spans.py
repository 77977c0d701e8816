"""In-memory span recorder for the traced benchmark run.

A span is ``(id, name, parent, op, start, end, attrs)``; ``op`` is the
operation id shared by every span of one query, one batch or one segment.
Spans are kept in a list and written once, when the run ends. The tracer
is single-threaded (the benchmark drives the program from one closed-loop
client), so a stack gives each span its parent.

``Tracer(enabled=False)`` records nothing: the untraced run pays one
attribute check per boundary.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        """Record one span around the ``with`` body. Yields the span's
        ``attrs`` dict (or a throwaway dict when disabled) so the caller
        can attach counts measured inside the span."""
        if not self.enabled:
            yield dict(attrs)
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = parent["op"]
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op,
            "start": time.perf_counter(),
            "end": None,
            "attrs": dict(attrs),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec["attrs"]
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: a span's duration minus the time
        its direct children cover (children never overlap — one thread)."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            own = (s["end"] - s["start"]) - child_time.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start": s["start"] - t0, "end": (s["end"] - t0) if s["end"] is not None else None}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({**extra, "self_time_s": self.self_times(), "spans": spans}, f, indent=1)


class JobCounter:
    """Exact Spark job / task counts for one operation, via a unique job
    group and the status tracker. The listener bus is drained before the
    tracker is read, so counts do not depend on event-delivery timing."""

    def __init__(self, sc):
        self.sc = sc
        self._seq = 0

    @contextmanager
    def group(self, counts: dict):
        gid = f"perfbench-{self._seq}"
        self._seq += 1
        self.sc.setJobGroup(gid, gid)
        try:
            yield counts
        finally:
            self.sc._jsc.clearJobGroup()
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
            st = self.sc.statusTracker()
            jobs = list(st.getJobIdsForGroup(gid))
            tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    si = st.getStageInfo(sid)
                    if si is not None:
                        tasks += si.numCompletedTasks
            counts["jobs"] = len(jobs)
            counts["tasks"] = tasks
