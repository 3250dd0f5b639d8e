"""Layer probes for the traced run: each public entry point timed on
its own over the workload's input, so per-layer cost is measured where
the work happens rather than inferred from the whole pipeline.

- envelope: ``parse_envelopes`` over the input JSONL
- aggregate: ``build_aggregation`` per rule on the cached parsed input
- kafka: ``envelopes_to_json`` over each rule's cached aggregate
- backfill: ``backfill_windows`` per rule (eight streaming rules plus
  the rollup rule) — a first publish of the whole range into a parquet
  dataset, then an authoritative rewrite of a sub-range from corrected
  input, checked by the oracle, rows outside the sub-range included
- baseline: the same replay job on ``local[1]``
"""

from __future__ import annotations

import json
import os
import time

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from monasca_aggregator_spark.backfill import backfill_windows
from monasca_aggregator_spark.operators.aggregate import build_aggregation, matches_metric
from monasca_aggregator_spark.sources.envelope import parse_envelopes
from monasca_aggregator_spark.sources.kafka import envelopes_to_json
from monasca_aggregator_spark.specs import load_specs

from measure import metric
from oracle import Oracle, compare
from rules import BACKFILL_RULES, STREAMING_RULES
from streams import await_all, start_pipeline

LAYERS = ("session", "envelope", "pipeline", "aggregate", "kafka", "backfill", "loadgen")


def self_times(tracer) -> dict:
    st = tracer.self_times()
    return {f"selftime.{layer}_s": metric(st.get(layer, 0.0), "s") for layer in LAYERS}


def _tree(path: str):
    for d, _, files in os.walk(path):
        for fn in files:
            full = os.path.join(d, fn)
            yield d, os.stat(full)


def run_all(ctx, src: str, events: list[dict], window_s: int, baseline: tuple) -> dict:
    """All probes over the JSONL input in ``src`` (``events`` as
    generated). ``baseline`` is (source dir, EngineConfig, envelopes)
    of the replay job the single-threaded baseline drains."""
    spark, tr = ctx.spark, ctx.tracer
    out: dict = {}
    raw = spark.read.text(src)
    rows_in = raw.count()
    with tr.span("parse_envelopes", "envelope"):
        t = time.perf_counter()
        parse_envelopes(raw).write.format("noop").mode("overwrite").save()
        out["envelope.parse_s"] = metric(time.perf_counter() - t, "s")
    parsed = parse_envelopes(raw).cache()
    out["envelope.rows_in"] = metric(rows_in, "rows")
    out["envelope.rows_out"] = metric(parsed.count(), "rows")

    specs = load_specs(BACKFILL_RULES)
    busy = ser = 0.0
    matched = rows_out = bytes_out = 0
    for spec in specs:
        with tr.span("build_aggregation", "aggregate", trace=spec.name):
            t = time.perf_counter()
            agg = build_aggregation(parsed, spec, window_s).cache()
            rows_out += agg.count()
            busy += time.perf_counter() - t
        matched += parsed.filter(matches_metric(spec, F.col("name"), F.col("dimensions"))).count()
        with tr.span("envelopes_to_json", "kafka", trace=spec.name):
            t = time.perf_counter()
            bytes_out += envelopes_to_json(agg).select(F.sum(F.length("value"))).first()[0] or 0
            ser += time.perf_counter() - t
        agg.unpersist()
    out.update({
        "aggregate.busy_s": metric(busy, "s"),
        "aggregate.rows_matched": metric(matched, "rows"),
        "aggregate.rows_out": metric(rows_out, "rows"),
        "kafka.serialize_s": metric(ser, "s"),
        "kafka.bytes_out": metric(bytes_out, "bytes"),
    })

    bf, bf_check = _backfill(ctx, parsed, specs, events, window_s)
    out.update(bf)
    parsed.unpersist()

    # single-threaded baseline: the replay job's availableNow drain on
    # local[1]
    base_src, base_cfg, base_n = baseline
    ctx.restart(cpus=1)
    with tr.span("baseline_local1", "pipeline"):
        queries, active = start_pipeline(
            ctx, STREAMING_RULES, base_cfg, base_src, str(ctx.work / "baseline"),
            available_now=True,
        )
        await_all(queries)
        out["baseline.local1_env_per_s"] = metric(base_n / (time.time() - active), "1/s")
    return {"per_layer": out, "attempted": bf_check["attempted"],
            "failed": bf_check["failed"], "detail": {"backfill_oracle": bf_check}}


def _backfill(ctx, parsed, specs, events: list[dict], window_s: int):
    spark, tr = ctx.spark, ctx.tracer
    w = window_s * 1000
    env_path = str(ctx.work / "envelopes.parquet")
    parsed.write.parquet(env_path)
    env = spark.read.parquet(env_path)
    ts = [e["ts_ms"] for e in events]
    lo = -(-min(ts) // w) * w
    hi = (max(ts) + 1) // w * w
    n_windows = (hi - lo) // w
    if n_windows < 2:
        raise RuntimeError("backfill probe needs at least two windows of input")
    # rewrite the last quarter of the range; the rest must survive
    sub_lo = lo + max(1, (3 * n_windows) // 4) * w
    sub_hi = hi
    corrected = env.filter(F.col("value") % 2 == 0)
    target = str(ctx.work / "published")

    with tr.span("publish", "backfill"):
        t = time.perf_counter()
        for spec in specs:
            with tr.span("backfill_windows", "backfill", trace=spec.name):
                backfill_windows(spark, env, spec, window_s, lo, hi, target)
        publish_s = time.perf_counter() - t
    written = sum(st.st_size for _, st in _tree(target))
    rewritten = 0
    with tr.span("rewrite", "backfill"):
        t = time.perf_counter()
        for spec in specs:
            call_start = time.time()
            with tr.span("backfill_windows", "backfill", trace=spec.name):
                backfill_windows(spark, corrected, spec, window_s, sub_lo, sub_hi, target)
            fresh = [(d, st.st_size) for d, st in _tree(target) if st.st_mtime >= call_start]
            rewritten += len({d for d, _ in fresh})
            written += sum(size for _, size in fresh)
        rewrite_s = time.perf_counter() - t

    # expected: the original input outside the rewritten sub-range, the
    # corrected input inside it
    original = Oracle(events, BACKFILL_RULES, w)
    fixed = Oracle([e for e in events if e["value"] % 2 == 0], BACKFILL_RULES, w)
    original.results = {
        k: v for k, v in original.results.items() if not sub_lo <= k[1] < sub_hi
    } | {k: v for k, v in fixed.results.items() if sub_lo <= k[1] < sub_hi}
    table = pq.read_table(target).to_pylist()
    rows = [
        (original.metric_to_rule[r["name"]], r["window_ts_ms"], None,
         tuple(sorted(json.loads(r["dims_json"]).items())), r["value"])
        for r in table
    ]
    check = compare(original, BACKFILL_RULES, rows, set(range(lo, hi, w)), tenantless=True)
    check["kept_outside_rewrite"] = sum(1 for r in rows if not sub_lo <= r[1] < sub_hi)
    return {
        "backfill.publish_s": metric(publish_s, "s"),
        "backfill.rewrite_s": metric(rewrite_s, "s"),
        "backfill.bytes_written": metric(written, "bytes"),
        "backfill.partitions_rewritten": metric(rewritten, "count"),
    }, check
