"""in/out counters (observability.py): batch Observation values and
streaming observedMetrics, with no extra pass over the data."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from monasca_aggregator_spark.models import AggregationSpec
from monasca_aggregator_spark.observability import (
    IN_METRIC,
    OUT_METRIC,
    count_edge,
)
from monasca_aggregator_spark.operators.aggregate import build_aggregation
from monasca_aggregator_spark.sources.envelope import events_to_envelopes
from monasca_aggregator_spark.sources.tables import load_table


def test_batch_io_counters_ride_the_job(spark, sf_small):
    env = events_to_envelopes(load_table(spark, sf_small, "events"))
    src, in_o = count_edge(env, IN_METRIC)
    spec = AggregationSpec(
        name="t",
        aggregated_metric_name="agg.click.sum",
        filtered_metric_name="click",
        function="sum",
    )
    out = build_aggregation(src, spec, 3600)
    out, out_o = count_edge(out, OUT_METRIC)
    n_out_rows = out.count()

    assert in_o.get["n"] == env.count()  # every consumed message
    assert out_o.get["n"] == n_out_rows  # every produced aggregate


def test_streaming_io_counters_in_progress(spark, tmp_path):
    src_dir = tmp_path / "obs_src"
    src_dir.mkdir()
    spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "k long, v double"
    ).write.mode("overwrite").parquet(str(src_dir / "data.parquet"))

    raw = spark.readStream.schema("k long, v double").parquet(
        str(src_dir / "data.parquet")
    )
    instrumented, _ = count_edge(raw, IN_METRIC, streaming=True)
    agg = instrumented.groupBy((F.col("k") % 10).alias("b")).agg(
        F.sum("v").alias("s")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("obs_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # observed metrics appear in the progress events
    seen = {}
    for p in q.recentProgress:
        seen.update(p["observedMetrics"] if isinstance(p, dict) else p.observedMetrics)
    assert IN_METRIC in seen
    assert seen[IN_METRIC]["n"] == 100


def test_prometheus_exposition_via_listener_and_http(spark, tmp_path):
    """End-to-end reference-parity metrics path: streaming observe →
    ProgressRecorder → HTTP /metrics text (reference server.go:42-48 +
    docs/local_install.md exposes in_messages/out_messages the same
    way). Two queries read the same 50 rows, as the daemon's rule
    queries all read every envelope: each query counts its own 50."""
    import urllib.request

    from monasca_aggregator_spark.observability import (
        ProgressRecorder,
        start_http_exporter,
    )

    recorder = ProgressRecorder()
    spark.streams.addListener(recorder)
    server = None
    names = ("prom_out", "prom_out_2")
    try:
        src_dir = tmp_path / "prom_src"
        src_dir.mkdir()
        spark.createDataFrame(
            [(i, float(i)) for i in range(50)], "k long, v double"
        ).write.mode("overwrite").parquet(str(src_dir / "d.parquet"))
        for name in names:
            raw = spark.readStream.schema("k long, v double").parquet(
                str(src_dir / "d.parquet")
            )
            instrumented, _ = count_edge(raw, IN_METRIC, streaming=True)
            agg = instrumented.groupBy((F.col("k") % 5).alias("b")).agg(
                F.sum("v").alias("s")
            )
            out, _ = count_edge(agg, OUT_METRIC, streaming=True)
            q = (
                out.writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        # listener callbacks are async; poll until forwarded
        deadline = time.time() + 30
        while time.time() < deadline and any(
            recorder.counter(IN_METRIC, n) < 50 for n in names
        ):
            time.sleep(0.5)
        for name in names:
            assert recorder.counter(IN_METRIC, name) == 50
            assert recorder.counter(OUT_METRIC, name) == 5

        server, port = start_http_exporter(recorder)
        body = urllib.request.urlopen(
            f"http://127.0.0.1:{port}/metrics", timeout=10
        ).read().decode()
        assert "# TYPE in_messages counter" in body
        assert body.count("# TYPE in_messages counter") == 1
        for name in names:
            assert f'in_messages{{query="{name}"}} 50' in body
            assert f'out_messages{{query="{name}"}} 5' in body
    finally:
        if server is not None:
            server.shutdown()
        spark.streams.removeListener(recorder)


def test_progress_recorder_records_real_stream_health(spark, tmp_path):
    """ProgressRecorder as a live listener: a watermarked windowed
    aggregation stream produces records with input volume, trigger
    latency, a parsed watermark, and state footprint — and health()
    summarizes them. Recorder capacity stays bounded."""
    from datetime import datetime, timezone

    from monasca_aggregator_spark.observability import ProgressRecorder

    rec = ProgressRecorder(capacity=8)
    spark.streams.addListener(rec)
    try:
        src_dir = tmp_path / "pr_src"
        src_dir.mkdir()
        rows = [
            (datetime.fromtimestamp(1_700_000_000 + i * 60,
                                    tz=timezone.utc), float(i))
            for i in range(120)
        ]
        spark.createDataFrame(rows, "ts timestamp, v double").write.mode(
            "overwrite"
        ).parquet(str(src_dir / "d.parquet"))
        raw = spark.readStream.schema("ts timestamp, v double").parquet(
            str(src_dir / "d.parquet")
        )
        agg = (
            raw.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour"))
            .agg(F.sum("v").alias("s"))
        )
        q = (
            agg.writeStream.format("memory")
            .queryName("pr_out")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # the advanced watermark rides the FINALIZATION batch's
        # progress event, which arrives async after awaitTermination —
        # poll for it, not just for the data batch
        deadline = time.time() + 30
        while time.time() < deadline and not any(
            (r["watermark_ms"] or 0) > 0
            for r in rec.records(query_name="pr_out")
        ):
            time.sleep(0.5)
    finally:
        spark.streams.removeListener(rec)

    rows = rec.records(query_name="pr_out")
    assert rows, "listener saw no progress"
    assert sum(r["n_input_rows"] or 0 for r in rows) == 120
    assert len(rows) <= 8  # bounded buffer
    data_batches = [r for r in rows if (r["n_input_rows"] or 0) > 0]
    assert all(r["trigger_ms"] is not None for r in data_batches)
    # the watermark advanced and the lag is non-negative wall - event
    wm = [r for r in rows if r["watermark_ms"]]
    assert wm, "watermark never parsed"
    assert all(r["watermark_lag_ms"] >= 0 for r in wm)
    h = rec.health(query_name="pr_out")
    assert h["n_batches"] == len(rows)
    assert h["total_input_rows"] == 120
    assert h["max_trigger_ms"] >= h["last_trigger_ms"] * 0  # present
    df = rec.to_df(spark, query_name="pr_out")
    assert df.count() == len(rows)
    assert "watermark_lag_ms" in df.columns


def test_progress_recorder_fold_and_empty_health():
    """record() folds a raw progress dict (the lastProgress polling
    path, no listener): ISO timestamps parse, lag = wall - watermark,
    state operators sum; an empty recorder reports n_batches=0 and an
    empty (but schema-stable) DataFrame."""
    from monasca_aggregator_spark.observability import ProgressRecorder

    rec = ProgressRecorder()
    assert rec.health() == {"n_batches": 0}
    rec.record(
        {
            "name": "q",
            "id": "abc",
            "batchId": 7,
            "timestamp": "2024-01-01T00:00:10.000Z",
            "numInputRows": 500,
            "inputRowsPerSecond": 100.0,
            "processedRowsPerSecond": 250.0,
            "durationMs": {"triggerExecution": 2000},
            "eventTime": {"watermark": "2024-01-01T00:00:04.000Z"},
            "stateOperators": [
                {"numRowsTotal": 10, "memoryUsedBytes": 4096},
                {"numRowsTotal": 5, "memoryUsedBytes": 1024},
            ],
        }
    )
    (row,) = rec.records()
    assert row["batch_id"] == 7
    assert row["watermark_lag_ms"] == 6000
    assert row["state_rows"] == 15
    assert row["state_bytes"] == 5120
    h = rec.health()
    assert h == {
        "n_batches": 1,
        "total_input_rows": 500,
        "max_trigger_ms": 2000,
        "last_trigger_ms": 2000,
        "last_watermark_lag_ms": 6000,
        "last_state_rows": 15,
        "last_state_bytes": 5120,
    }


def test_progress_recorder_counts_per_query_beyond_its_capacity():
    """record() on raw progress dicts: observedMetrics add up per query
    even after the bounded buffer evicted the records that carried
    them, and a query name holding a quote, a backslash or a newline is
    escaped in the exposition's label."""
    from monasca_aggregator_spark.observability import ProgressRecorder

    odd = 'a"b\\c\nd'
    rec = ProgressRecorder(capacity=1)
    for query, n in ((odd, 3), (odd, 4), ("plain", 5)):
        rec.record(
            {"name": query, "id": "x", "observedMetrics": {IN_METRIC: {"n": n}}}
        )
    rec.record(
        {"name": None, "id": "id-1", "observedMetrics": {OUT_METRIC: {"n": 2}}}
    )
    assert len(rec.records()) == 1
    assert rec.counter(IN_METRIC, odd) == 7
    assert rec.counter(IN_METRIC, "plain") == 5
    assert rec.counter(OUT_METRIC, "id-1") == 2
    assert rec.exposition() == (
        "# HELP in_messages pipeline counter\n"
        "# TYPE in_messages counter\n"
        'in_messages{query="a\\"b\\\\c\\nd"} 7\n'
        'in_messages{query="plain"} 5\n'
        "# HELP out_messages pipeline counter\n"
        "# TYPE out_messages counter\n"
        'out_messages{query="id-1"} 2\n'
    )
