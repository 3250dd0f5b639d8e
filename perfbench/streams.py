"""Driving ``build_continuous_pipeline`` with a file source and a text
sink, and reading back what the sink committed.

The text sink's ``_spark_metadata`` log is the commit point: a result
is published when the batch that wrote its file commits, so a
(rule, window)'s publish time is the mtime of the first log entry
that lists a file holding it. Files no log entry lists were never
committed and are ignored.
"""

from __future__ import annotations

import json
import os
import time

from monasca_aggregator_spark.config import EngineConfig, build_continuous_pipeline
from monasca_aggregator_spark.sources.envelope import parse_envelopes
from monasca_aggregator_spark.sources.kafka import envelopes_to_json
from monasca_aggregator_spark.specs import load_specs


def start_pipeline(ctx, rules: list[dict], cfg: EngineConfig, src_dir: str,
                   out_dir: str, *, available_now: bool):
    """Specs + the whole runtime over ``src_dir``. Returns (queries,
    time the first query was active)."""
    spark = ctx.spark
    first_active: list[float] = []
    with ctx.tracer.span("load_specs", "session"):
        specs = load_specs(rules)

    def source():
        with ctx.tracer.span("parse_envelopes", "envelope"):
            return parse_envelopes(spark.readStream.text(src_dir))

    def sink(plan, spec):
        with ctx.tracer.span("envelopes_to_json", "kafka", trace=spec.name):
            payload = envelopes_to_json(plan).select("value")
        writer = (
            payload.writeStream.format("text")
            .queryName(spec.name)
            .option("path", os.path.join(out_dir, spec.name))
            .option("checkpointLocation", os.path.join(out_dir, "_ck", spec.name))
            .outputMode("append")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        q = writer.start()
        if not first_active:
            first_active.append(time.time())
        return q

    with ctx.tracer.span("build_continuous_pipeline", "pipeline"):
        queries = build_continuous_pipeline(
            spark, cfg, specs, checkpoint_dir=os.path.join(out_dir, "_ck"),
            source=source, sink=sink,
        )
    return queries, first_active[0]


def await_all(queries) -> None:
    for q in queries:
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"query {q.name} failed: {q.exception()}")


def stop_all(queries) -> None:
    for q in queries:
        q.stop()
    for q in queries:
        q.awaitTermination()


def _commit_times(sink_dir: str) -> dict[str, float]:
    """Output file basename → commit time of the batch that added it."""
    meta = os.path.join(sink_dir, "_spark_metadata")
    if not os.path.isdir(meta):
        return {}
    logs = []
    for fn in os.listdir(meta):
        if fn.startswith("."):
            continue
        stem = fn.split(".")[0]
        if stem.isdigit():
            logs.append((int(stem), fn))
    out: dict[str, float] = {}
    for _, fn in sorted(logs):
        path = os.path.join(meta, fn)
        committed = os.stat(path).st_mtime
        with open(path) as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                name = os.path.basename(json.loads(line)["path"])
                out.setdefault(name, committed)
    return out


def read_published(out_dir: str, rules: list[dict], metric_to_rule: dict):
    """Committed sink rows as ``(rule, window_ms, tenant, dims, value)``
    and the publish time of each (rule, window)."""
    rows = []
    published: dict[tuple, float] = {}
    for rule in rules:
        sink_dir = os.path.join(out_dir, rule["name"])
        for name, committed in _commit_times(sink_dir).items():
            with open(os.path.join(sink_dir, name)) as f:
                for line in f:
                    env = json.loads(line)
                    m = env["metric"]
                    key = (metric_to_rule[m["name"]], int(m["timestamp"]))
                    rows.append((*key, env["meta"]["tenantId"],
                                 tuple(sorted(m["dimensions"].items())), m.get("value")))
                    published[key] = min(published.get(key, committed), committed)
    return rows, published


def file_rows(progress: dict) -> int:
    """Rows a progress event read from the envelope file source (the
    heartbeat's rate source excluded)."""
    return sum(
        s.get("numInputRows") or 0
        for s in progress.get("sources") or ()
        if s.get("description", "").startswith("FileStreamSource")
    )
