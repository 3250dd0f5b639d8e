"""Real-broker Kafka integration suite (``pytest -m kafka``).

Runs ONLY when ``KAFKA_BOOTSTRAP`` points at a reachable broker AND the
spark-sql-kafka connector jar is on the session classpath (start the
JVM with ``--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<ver>``
or a bundled jar). Everything here exercises the exact builders the
unit suite tests broker-less (sources/kafka.py): wire round-trip
through a real topic, and the continuous aggregation pipeline consuming
from Kafka — the reference's full runtime loop (server.go:150-185).

CI without a broker skips cleanly; the marker keeps the suite out of
default runs (see pytest.ini).
"""

from __future__ import annotations

import json
import os
import time
import uuid

import pytest

BOOTSTRAP = os.environ.get("KAFKA_BOOTSTRAP")

pytestmark = [
    pytest.mark.kafka,
    pytest.mark.skipif(
        not BOOTSTRAP, reason="KAFKA_BOOTSTRAP not set (no broker)"
    ),
]


@pytest.fixture(scope="module")
def kafka_ready(spark):
    """Skip (not fail) when the connector jar is absent from the JVM."""
    try:
        spark.read.format("kafka").option(
            "kafka.bootstrap.servers", BOOTSTRAP
        ).option("subscribe", f"probe-{uuid.uuid4().hex[:8]}").option(
            "startingOffsets", "earliest"
        ).option("endingOffsets", "latest").load().limit(0).collect()
    except Exception as exc:  # noqa: BLE001
        if "Failed to find data source" in str(exc) or "kafka" in str(exc).lower():
            pytest.skip(f"spark-sql-kafka connector unavailable: {exc}")
        raise
    return True


def _envelope(name, ts_ms, value, tenant="t0"):
    return json.dumps(
        {
            "metric": {
                "name": name,
                "dimensions": {"host": "h1"},
                "timestamp": float(ts_ms),
                "value": value,
                "value_meta": {},
            },
            "meta": {"tenantId": tenant},
            "creation_time": int(time.time() * 1000),
        }
    )


def test_wire_round_trip_through_topic(spark, kafka_ready):
    """envelopes_to_json → real topic → parse_envelopes: byte-level wire
    parity both directions."""
    from pyspark.sql import functions as F

    from monasca_aggregator_spark.sources.envelope import parse_envelopes

    topic = f"mas-rt-{uuid.uuid4().hex[:8]}"
    payloads = [_envelope("cpu", 3_600_000 + i, float(i)) for i in range(10)]
    df = spark.createDataFrame([(p,) for p in payloads], "value string")
    (
        df.select(F.lit("k").alias("key"), F.col("value"))
        .write.format("kafka")
        .option("kafka.bootstrap.servers", BOOTSTRAP)
        .option("topic", topic)
        .save()
    )
    raw = (
        spark.read.format("kafka")
        .option("kafka.bootstrap.servers", BOOTSTRAP)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .option("endingOffsets", "latest")
        .load()
    )
    rows = parse_envelopes(raw, value_col="value").collect()
    assert len(rows) == 10
    assert {r.name for r in rows} == {"cpu"}
    assert sorted(r.value for r in rows) == [float(i) for i in range(10)]
    assert rows[0].value_meta == {}


def test_streaming_aggregation_from_broker(spark, kafka_ready, tmp_path):
    """read_envelope_stream → build_aggregation → memory sink:
    the reference's consume→aggregate→publish loop against a live
    broker, aggregates checked exactly."""
    from monasca_aggregator_spark.models import AggregationSpec
    from monasca_aggregator_spark.sources.kafka import read_envelope_stream
    from monasca_aggregator_spark.operators.aggregate import (
        build_aggregation,
    )
    from pyspark.sql import functions as F

    topic = f"mas-agg-{uuid.uuid4().hex[:8]}"
    # one 60 s window, 3 metrics summing to 6.0, plus a watermark pusher
    payloads = [
        _envelope("click", 60_000, 1.0),
        _envelope("click", 61_000, 2.0),
        _envelope("click", 62_000, 3.0),
        _envelope("click", 600_000, 99.0),
    ]
    spark.createDataFrame([(p,) for p in payloads], "value string").select(
        F.lit("k").alias("key"), "value"
    ).write.format("kafka").option(
        "kafka.bootstrap.servers", BOOTSTRAP
    ).option("topic", topic).save()

    spec = AggregationSpec(
        name="k",
        aggregated_metric_name="agg.click.sum",
        filtered_metric_name="click",
        function="sum",
        grouped_dimensions=(),
    )
    env = read_envelope_stream(spark, BOOTSTRAP, topic)
    plan = build_aggregation(env, spec, 60, 30)
    q = (
        plan.writeStream.format("memory")
        .queryName("kafka_agg_it")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "kafka_ckpt"))
        .start()
    )
    q.awaitTermination()
    got = {
        r.window_ts_ms: r.value for r in spark.table("kafka_agg_it").collect()
    }
    assert got.get(60_000) == 6.0
