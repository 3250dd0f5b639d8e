"""Pipeline self-instrumentation: in/out message counters and stream
health, exposed in the Prometheus text format.

The reference registers Prometheus ``in_messages`` / ``out_messages``
counters and increments them per consumed/produced message
(reference: server.go:42-48, 232, 330). A Spark pipeline must NOT
count driver-side (that would collect the stream) — the native
mechanism is ``DataFrame.observe``: named aggregate expressions
evaluated inside the job, surfaced on the driver after each
batch/epoch without a second pass over the data.

Usage — wrap the edges of any plan:

    src, in_o = count_edge(src, IN_METRIC)        # source edge
    out = build_plan(src)
    out, out_o = count_edge(out, OUT_METRIC)      # sink edge
    out.collect()                                 # or writeStream...
    in_o.get["n"], out_o.get["n"]                 # batch counters

Streaming: pass ``streaming=True`` (Observation handles are
batch-only); the same named metrics then arrive per micro-batch in
``StreamingQueryProgress.observedMetrics``. ``ProgressRecorder`` is the
one listener that reads them: attach it with
``spark.streams.addListener`` and it keeps each query's recent
micro-batch health and a running total of every counter per query
(``counter()``, ``exposition()``), which ``start_http_exporter``
serves at ``/metrics``. The daemon runs one query per rule and each
reads every envelope, so the counters are labelled by query: a sum
over queries would count each envelope once per rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import (
    StreamingQueryListener as _StreamingQueryListener,
)

IN_METRIC = "in_messages"
OUT_METRIC = "out_messages"


def count_edge(
    df: DataFrame, name: str, *, streaming: bool = False
):
    """Attach a row counter at this edge of the plan.

    Returns (instrumented_df, observation) — build the rest of the
    plan from ``instrumented_df`` so the count rides the same job.
    ``observation`` is a batch ``Observation`` handle (read
    ``.get["n"]`` after an action) or None when ``streaming`` (read
    the metric by ``name`` from observedMetrics instead).
    """
    if streaming:
        return df.observe(name, F.count(F.lit(1)).alias("n")), None
    from pyspark.sql import Observation

    obs = Observation(name)
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


def start_http_exporter(
    recorder: ProgressRecorder, port: int = 0
) -> tuple[object, int]:
    """Serve ``recorder.exposition()`` at ``/metrics`` on a daemon
    thread (stdlib http.server — scrape-compatible with Prometheus).
    Returns (server, bound_port); ``server.shutdown()`` stops it.
    ``port=0`` binds an ephemeral port (tests)."""
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    class _Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802
            if self.path.rstrip("/") not in ("", "/metrics"):
                self.send_response(404)
                self.end_headers()
                return
            body = recorder.exposition().encode()
            self.send_response(200)
            self.send_header(
                "Content-Type", "text/plain; version=0.0.4; charset=utf-8"
            )
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):  # silence per-request stderr spam
            pass

    server = HTTPServer(("127.0.0.1", port), _Handler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    return server, server.server_address[1]


class ProgressRecorder(_StreamingQueryListener):
    """The package's one ``StreamingQueryListener``: per-micro-batch
    stream telemetry plus the ``count_edge`` counters of every query.

    Telemetry: batch duration, input volume, processing rate,
    WATERMARK LAG (wall clock at progress time minus the event-time
    watermark — the reference's consumer-lag observable,
    server.go:213-296, generalized to event time), and stateful-operator
    footprint. The newest ``capacity`` progress records stay in a
    bounded deque, so a long-running stream cannot grow driver memory.
    ``records()`` returns plain dicts; ``to_df(spark)`` a DataFrame for
    SQL over the stream's own health; ``health()`` the one-glance
    summary an alert rule consumes.

    Counters: each event's ``observedMetrics`` add to running totals
    keyed by (metric, query name — or query id when the query has no
    name). They live outside the deque, so eviction never lowers a
    counter. ``counter()`` reads one; ``exposition()`` renders all of
    them in the Prometheus text format.

    Thread-safe: callbacks arrive on Py4J threads. Attach with
    ``spark.streams.addListener(recorder)`` — one recorder observes
    every query on the session; filter records by ``query_name``.
    """

    _FIELDS = (
        "query_name query_id batch_id ts_ms n_input_rows"
        " input_rows_per_sec processed_rows_per_sec trigger_ms"
        " watermark_ms watermark_lag_ms state_rows state_bytes"
    ).split()

    def __init__(self, capacity: int = 1024) -> None:
        import collections
        import threading

        self._lock = threading.Lock()
        self._buf = collections.deque(maxlen=capacity)
        self._totals: dict[tuple[str, str], float] = {}

    # -- StreamingQueryListener interface --
    def onQueryStarted(self, event):  # noqa: N802
        pass

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass

    def onQueryProgress(self, event):  # noqa: N802
        import json as _json

        p = event.progress
        rec = _json.loads(p.json) if hasattr(p, "json") else dict(p)
        self.record(rec)

    @staticmethod
    def _iso_ms(s: str | None) -> int | None:
        if not s:
            return None
        from datetime import datetime, timezone

        dt = datetime.fromisoformat(s.replace("Z", "+00:00"))
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        return int(dt.timestamp() * 1000)

    def record(self, progress: dict) -> None:
        """Fold one StreamingQueryProgress JSON dict into the buffer and
        the counters (exposed for tests and for polling
        ``query.lastProgress`` without a listener)."""
        ts_ms = self._iso_ms(progress.get("timestamp"))
        wm_ms = self._iso_ms(
            (progress.get("eventTime") or {}).get("watermark")
        )
        state = progress.get("stateOperators") or []
        row = {
            "query_name": progress.get("name"),
            "query_id": progress.get("id"),
            "batch_id": progress.get("batchId"),
            "ts_ms": ts_ms,
            "n_input_rows": progress.get("numInputRows"),
            "input_rows_per_sec": progress.get("inputRowsPerSecond"),
            "processed_rows_per_sec": progress.get(
                "processedRowsPerSecond"
            ),
            "trigger_ms": (progress.get("durationMs") or {}).get(
                "triggerExecution"
            ),
            "watermark_ms": wm_ms,
            "watermark_lag_ms": (
                ts_ms - wm_ms
                if ts_ms is not None and wm_ms is not None
                else None
            ),
            "state_rows": sum(
                s.get("numRowsTotal") or 0 for s in state
            )
            if state
            else None,
            "state_bytes": sum(
                s.get("memoryUsedBytes") or 0 for s in state
            )
            if state
            else None,
        }
        query = progress.get("name") or progress.get("id")
        counts = [
            (name, metric["n"])
            for name, metric in (progress.get("observedMetrics") or {}).items()
            if (metric or {}).get("n") is not None
        ]
        with self._lock:
            self._buf.append(row)
            for name, n in counts:
                key = (name, query)
                self._totals[key] = self._totals.get(key, 0) + n

    def counter(self, name: str, query: str) -> float:
        """Running total of the ``count_edge`` metric ``name`` over every
        progress event of ``query`` (its name, else its id)."""
        with self._lock:
            return self._totals.get((name, query), 0)

    def exposition(self) -> str:
        """Prometheus text format 0.0.4: one HELP/TYPE pair per metric,
        one ``name{query="..."} value`` line per query, and the trailing
        newline the format requires (prometheus_client is not a
        dependency; counters are the only slice of the format needed)."""
        with self._lock:
            items = sorted(self._totals.items())
        lines, metric = [], None
        for (name, query), value in items:
            if name != metric:
                metric = name
                lines.append(f"# HELP {name} pipeline counter")
                lines.append(f"# TYPE {name} counter")
            label = (
                str(query)
                .replace("\\", "\\\\")
                .replace('"', '\\"')
                .replace("\n", "\\n")
            )
            v = int(value) if float(value).is_integer() else value
            lines.append(f'{name}{{query="{label}"}} {v}')
        return "\n".join(lines) + "\n"

    def records(self, *, query_name: str | None = None) -> list[dict]:
        with self._lock:
            rows = list(self._buf)
        if query_name is not None:
            rows = [r for r in rows if r["query_name"] == query_name]
        return rows

    def to_df(self, spark, *, query_name: str | None = None):
        """The buffer as a DataFrame (stable schema even when empty) —
        the stream's own health is then just SQL: lag percentiles,
        batch-duration trend, state growth."""
        rows = self.records(query_name=query_name)
        schema = (
            "query_name string, query_id string, batch_id long,"
            " ts_ms long, n_input_rows long,"
            " input_rows_per_sec double, processed_rows_per_sec double,"
            " trigger_ms long, watermark_ms long, watermark_lag_ms long,"
            " state_rows long, state_bytes long"
        )
        return spark.createDataFrame(
            [tuple(r[f] for f in self._FIELDS) for r in rows], schema
        )

    def health(self, *, query_name: str | None = None) -> dict:
        """One-glance summary: batches seen, total/mean input volume,
        worst and latest trigger latency, newest watermark lag, state
        footprint of the newest batch. None-safe on partial fields."""
        rows = self.records(query_name=query_name)
        if not rows:
            return {"n_batches": 0}
        trig = [r["trigger_ms"] for r in rows if r["trigger_ms"] is not None]
        lag = [
            r["watermark_lag_ms"]
            for r in rows
            if r["watermark_lag_ms"] is not None
        ]
        newest = rows[-1]
        return {
            "n_batches": len(rows),
            "total_input_rows": sum(
                r["n_input_rows"] or 0 for r in rows
            ),
            "max_trigger_ms": max(trig) if trig else None,
            "last_trigger_ms": trig[-1] if trig else None,
            "last_watermark_lag_ms": lag[-1] if lag else None,
            "last_state_rows": newest["state_rows"],
            "last_state_bytes": newest["state_bytes"],
        }
