"""Kafka source/sink module: option construction + envelope-JSON sink
serialization. No broker / connector jar in this environment, so the
connector-touching paths (read_envelope_stream / write_envelope_stream)
are exercised only up to the option plumbing; the serialization the
sink would publish is verified on a batch DataFrame round-trip through
parse_envelopes (the wire format is its own inverse)."""

from __future__ import annotations

import json
import time

from monasca_aggregator_spark.sources import kafka as K
from monasca_aggregator_spark.sources.envelope import parse_envelopes


def test_source_options_shape():
    opts = K.source_options("broker:9092", "metrics")
    assert opts["kafka.bootstrap.servers"] == "broker:9092"
    assert opts["subscribe"] == "metrics"
    assert opts["startingOffsets"] == "earliest"
    assert opts["failOnDataLoss"] == "false"
    assert int(opts["maxOffsetsPerTrigger"]) > 0


def test_sink_options_shape(tmp_path):
    opts = K.sink_options("b:9092", "agg-metrics", checkpoint_dir=str(tmp_path))
    assert opts["topic"] == "agg-metrics"
    assert opts["checkpointLocation"] == str(tmp_path)


def test_envelope_json_roundtrip(spark):
    """sink serialization → parse_envelopes recovers the same relation."""
    agg = spark.createDataFrame(
        [
            (3600_000, "t0", "cpu.sum", {"host": "h1"}, 12.5),
            (7200_000, "t1", "cpu.sum", {"host": "h2"}, 0.0),
        ],
        "window_ts_ms long, tenant_id string, name string, "
        "dimensions map<string,string>, value double",
    )
    wire = K.envelopes_to_json(agg)
    assert wire.columns == ["key", "value"]
    back = parse_envelopes(wire, value_col="value").orderBy("timestamp")
    rows = back.collect()
    assert [r.name for r in rows] == ["cpu.sum", "cpu.sum"]
    assert [r.tenant_id for r in rows] == ["t0", "t1"]
    assert [r.value for r in rows] == [12.5, 0.0]
    assert rows[0].dimensions == {"host": "h1"}
    # window start survives as the envelope timestamp (epoch ms)
    assert [int(r.timestamp.timestamp() * 1000) for r in rows] == [
        3600_000,
        7200_000,
    ]


AGG_SCHEMA = (
    "window_ts_ms long, tenant_id string, name string, "
    "dimensions map<string,string>, value double"
)


def _creation_times(rows):
    return [json.loads(r.value)["creation_time"] for r in rows]


def test_creation_time_is_the_publication_wall_clock(spark, tmp_path):
    """``creation_time`` is the wall clock in epoch ms when the row is
    serialized, on batch and streaming relations alike."""
    agg = spark.createDataFrame(
        [(3600_000, "t0", "cpu.sum", {"host": "h1"}, 12.5)], AGG_SCHEMA
    )
    before = int(time.time() * 1000)
    rows = K.envelopes_to_json(agg).collect()
    after = int(time.time() * 1000) + 1
    assert all(before <= t <= after for t in _creation_times(rows))

    agg.write.parquet(str(tmp_path / "agg"))
    stream = spark.readStream.schema(AGG_SCHEMA).parquet(str(tmp_path / "agg"))
    before = int(time.time() * 1000)
    q = (
        K.envelopes_to_json(stream)
        .writeStream.format("memory")
        .queryName("creation_time_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    after = int(time.time() * 1000) + 1
    rows = spark.table("creation_time_stream").collect()
    assert len(rows) == 1
    assert all(before <= t <= after for t in _creation_times(rows))
