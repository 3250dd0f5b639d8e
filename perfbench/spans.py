"""In-memory spans around the benchmark's calls into each layer, plus a
StreamingQueryListener that turns every rule query's progress events
into micro-batch spans with one child per ``durationMs`` phase.

Spans carry wall-clock seconds (``time.time``) so the engine's own
progress timestamps line up with the benchmark's. They are kept in
memory and written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from collections import defaultdict
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

# MicroBatchExecution's phase order inside one trigger
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


class Tracer:
    """Span recorder; a disabled tracer records nothing and costs one
    branch per call."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, layer: str, trace: str = "run", **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        start = time.time()
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            self.add(name, layer, start, time.time(), parent, trace, sid=sid, **attrs)

    def add(self, name, layer, start, end, parent, trace, *, sid=None, **attrs) -> int:
        sid = sid if sid is not None else next(self._ids)
        with self._lock:
            self.spans.append(
                {"id": sid, "parent": parent, "trace": trace, "name": name,
                 "layer": layer, "start": start, "end": end, **attrs}
            )
        return sid

    def self_times(self) -> dict[str, float]:
        """Per layer: Σ span duration minus the part of it that child
        spans cover (children clipped to the parent, overlaps merged)."""
        with self._lock:
            spans = list(self.spans)
        kids = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            covered = 0.0
            cur_lo = cur_hi = None
            for lo, hi in sorted(kids.get(s["id"], ())):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
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
            out[s["layer"]] += max(0.0, s["end"] - s["start"] - covered)
        return dict(out)

    def dump(self, path: str) -> None:
        with self._lock, open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def iso_s(s: str) -> float:
    return datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()


class ProgressSpans(StreamingQueryListener):
    """Records a ``pipeline`` span per micro-batch under ``parent``,
    with the ``durationMs`` phases as children laid out in execution
    order, and how long its own callbacks took (``busy_s``)."""

    def __init__(self, tracer: Tracer, parent: int | None) -> None:
        self.tracer = tracer
        self.parent = parent
        self.busy_s = 0.0
        self._lock = threading.Lock()

    def onQueryStarted(self, event):  # noqa: N802
        pass

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass

    def onQueryProgress(self, event):  # noqa: N802
        t = time.perf_counter()
        try:
            self._record(json.loads(event.progress.json))
        finally:
            with self._lock:
                self.busy_s += time.perf_counter() - t

    def _record(self, p: dict) -> None:
        dur = p.get("durationMs") or {}
        start = iso_s(p["timestamp"])
        end = start + dur.get("triggerExecution", 0) / 1000.0
        trace = p.get("name") or p.get("id")
        sid = self.tracer.add(
            "microbatch", "pipeline", start, end, self.parent, trace,
            batch=p.get("batchId"), rows=p.get("numInputRows"),
        )
        t = start
        for phase in PHASES:
            ms = dur.get(phase)
            if not ms:
                continue
            self.tracer.add(phase, "pipeline", t, t + ms / 1000.0, sid, trace)
            t += ms / 1000.0
