"""Kafka source/sink for the continuous aggregation pipeline.

Wire parity with the reference (server.go:150-185): consume
MetricEnvelope JSON from an input topic, publish aggregated metrics as
MetricEnvelope JSON to an output topic. On Spark this is the built-in
``kafka`` data source — offset tracking, rebalancing, and the
exactly-once-ish restart story the reference hand-rolls with manual
commits (server.go:222-258) come from checkpointing + the source's
offset log instead.

The Kafka connector (spark-sql-kafka) and a broker are not available in
this test environment, so everything here is import-safe and
constructible without them:

- option-dict builders are pure functions (unit-tested);
- ``read_envelope_stream`` / ``write_envelope_stream`` only touch the
  connector when actually called against a session;
- ``envelopes_to_json`` (the sink serialization) is plain column math,
  tested on batch DataFrames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from monasca_aggregator_spark.sources.envelope import parse_envelopes

MAX_OFFSETS_PER_TRIGGER = 1_000_000


def source_options(bootstrap_servers: str, topic: str) -> dict[str, str]:
    """Kafka reader options.

    ``startingOffsets=earliest``: a new rule query reads the topic from
    the start; once running, its checkpoint holds the offsets.
    ``maxOffsetsPerTrigger`` bounds per-microbatch work so one huge
    backlog replay cannot OOM executors — the scale knob the reference
    lacks (it reads unbounded and relies on windowing GC).
    ``failOnDataLoss=false`` matches the reference's keep-going behavior
    when offsets have been retention-expired.
    """
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": "earliest",
        "maxOffsetsPerTrigger": str(MAX_OFFSETS_PER_TRIGGER),
        "failOnDataLoss": "false",
    }


def sink_options(
    bootstrap_servers: str, topic: str, *, checkpoint_dir: str
) -> dict[str, str]:
    """Kafka writer options; the checkpoint directory carries the offset
    log that replaces the reference's manual commit-on-publish."""
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "topic": topic,
        "checkpointLocation": checkpoint_dir,
    }


def read_envelope_stream(
    spark: SparkSession, bootstrap_servers: str, topic: str
) -> DataFrame:
    """readStream from Kafka → parsed flat envelope relation.

    The returned DataFrame feeds operators.aggregate.build_aggregation
    unchanged — the file-source test path and the Kafka path share
    every operator downstream of the parse. The wall-clock heartbeat is not applied
    here: ``config.build_continuous_pipeline`` unions it in (after the
    in_messages counter) when ``EngineConfig.heartbeat`` is on.
    """
    reader = spark.readStream.format("kafka")
    for k, v in source_options(bootstrap_servers, topic).items():
        reader = reader.option(k, v)
    return parse_envelopes(reader.load(), value_col="value")


def envelopes_to_json(aggregated: DataFrame) -> DataFrame:
    """Aggregated-metric relation → Kafka (key, value) pair.

    value: MetricEnvelope JSON (reference wire format,
    models/metric_envelope.go); key: tenant_id so one tenant's metrics
    land in one partition (ordered per tenant, like the reference's
    single-writer publish loop).
    """
    # aggregated outputs normally have no value_meta (the reference's
    # aggregated Metric leaves ValueMeta at its zero value); pass one
    # through when the relation carries it so enrichment stages can tag
    # published metrics (models/metric.go:22)
    value_meta = (
        F.col("value_meta")
        if "value_meta" in aggregated.columns
        else F.lit(None).cast("map<string,string>")
    )
    envelope = F.struct(
        F.struct(
            F.col("name"),
            F.col("dimensions"),
            F.col("window_ts_ms").cast("double").alias("timestamp"),
            F.col("value"),
            value_meta.alias("value_meta"),
        ).alias("metric"),
        F.create_map(F.lit("tenantId"), F.col("tenant_id")).alias("meta"),
        F.unix_millis(F.current_timestamp()).alias("creation_time"),
    )
    return aggregated.select(
        F.col("tenant_id").cast("string").alias("key"),
        F.to_json(envelope).alias("value"),
    )


def write_envelope_stream(
    aggregated: DataFrame,
    rule_name: str,
    bootstrap_servers: str,
    topic: str,
    *,
    checkpoint_dir: str,
):
    """writeStream of one rule's aggregation plan to Kafka.

    Always append mode: with the watermark it emits each window once,
    when finalized — the reference's publish-at-lag semantics
    (server.go:213-296). The query is named ``rule_name``, so its
    progress events, and the counters read from them, name the rule.
    Returns the started StreamingQuery.
    """
    writer = envelopes_to_json(aggregated).writeStream.format("kafka")
    for k, v in sink_options(
        bootstrap_servers, topic, checkpoint_dir=checkpoint_dir
    ).items():
        writer = writer.option(k, v)
    return writer.queryName(rule_name).outputMode("append").start()
