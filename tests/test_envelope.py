"""Envelope wire-format parsing
(reference: models/metric_envelope.go, server.go:300-304)."""

from __future__ import annotations

import json

from monasca_aggregator_spark.sources.envelope import (
    ENVELOPE_COLUMNS,
    parse_envelopes,
)


def _raw(spark, payloads):
    return spark.createDataFrame([(p,) for p in payloads], "value string")


def _envelope(name="cpu", ts_ms=1_700_000_000_000.0, value=1.5, **kw):
    e = {
        "metric": {
            "name": name,
            "dimensions": {"host": "h1"},
            "timestamp": ts_ms,
            "value": value,
            "value_meta": {"unit": "pct"},
        },
        "meta": {"tenantId": "tenant-a", "region": "r1"},
        "creation_time": 1_700_000_000,
    }
    e.update(kw)
    return json.dumps(e)


def test_parse_well_formed(spark):
    df = parse_envelopes(_raw(spark, [_envelope()]))
    assert df.columns == list(ENVELOPE_COLUMNS)
    r = df.collect()[0]
    assert r.name == "cpu"
    assert r.dimensions == {"host": "h1"}
    assert r.value == 1.5
    assert r.tenant_id == "tenant-a"
    # float ms → timestamp, ms precision preserved
    assert int(r.timestamp.timestamp() * 1000) == 1_700_000_000_000


def test_value_meta_round_trip(spark):
    """value_meta survives parse → flat relation → output envelope JSON
    (reference models/metric.go:22 carries it through the envelope)."""
    from pyspark.sql import functions as F

    from monasca_aggregator_spark.sources.kafka import envelopes_to_json

    df = parse_envelopes(_raw(spark, [_envelope()]))
    r = df.collect()[0]
    assert r.value_meta == {"unit": "pct"}

    # publish side: a relation carrying value_meta emits it on the wire
    agg = df.select(
        "name",
        "dimensions",
        F.lit(1_700_000_000_000).alias("window_ts_ms"),
        "value",
        "value_meta",
        "tenant_id",
    )
    wire = json.loads(envelopes_to_json(agg).collect()[0].value)
    assert wire["metric"]["value_meta"] == {"unit": "pct"}

    # and a relation without one still serializes the key (null value —
    # the reference's Go zero-value map)
    wire2 = json.loads(
        envelopes_to_json(agg.drop("value_meta")).collect()[0].value
    )
    assert "value_meta" not in wire2["metric"] or not wire2["metric"]["value_meta"]


def test_invalid_json_dropped(spark):
    # reference drops messages that fail to unmarshal (server.go:300-304)
    df = parse_envelopes(
        _raw(spark, ["{not json", '{"meta": {}}', _envelope(name="ok")])
    )
    rows = df.collect()
    assert [r.name for r in rows] == ["ok"]


def test_missing_tenant_is_null(spark):
    payload = json.loads(_envelope())
    del payload["meta"]["tenantId"]
    df = parse_envelopes(_raw(spark, [json.dumps(payload)]))
    assert df.collect()[0].tenant_id is None


def test_publisher_batches_drive_the_streaming_pipeline(spark, tmp_path):
    """The load-generator parity tool (tools/publisher.py ≙ reference
    tools/publisher.go): its JSONL batches must flow through the real
    envelope source into the streaming aggregation and produce one
    aggregate per (window, group) of the 3×2 dimension grid."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from publisher import make_envelopes

    from monasca_aggregator_spark.models import AggregationSpec
    from monasca_aggregator_spark.sources.envelope import read_envelope_json
    from monasca_aggregator_spark.operators.aggregate import (
        build_aggregation,
    )

    src = tmp_path / "pub"
    src.mkdir()
    now_ms = 1_700_000_000_000  # fixed so the window id is stable
    (src / "b0.jsonl").write_text(
        "\n".join(make_envelopes(now_ms=now_ms))
    )

    spec = AggregationSpec(
        name="pub",
        aggregated_metric_name="agg.metric2.sum",
        filtered_metric_name="metric2",
        function="sum",
        grouped_dimensions=("service",),
    )
    env = read_envelope_json(spark, str(src), streaming=True)
    plan = build_aggregation(env, spec, 60, 0)
    q = (
        plan.writeStream.format("memory")
        .queryName("pub_agg")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "pub_ckpt"))
        .start()
    )
    q.awaitTermination()
    rows = spark.table("pub_agg").collect()
    # 3 services × 1 window; each sums value 2.0 over 2 hosts
    assert len(rows) == 3
    assert all(r.value == 4.0 for r in rows)
    assert {r.dimensions["service"] for r in rows} == {"0", "1", "2"}
