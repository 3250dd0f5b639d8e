"""Engine runtime config — the reference's config.yaml surface
(reference: config.yaml, server.go:90-112 viper defaults).

``EngineConfig.from_yaml`` accepts the reference's file verbatim, so a
user switches engines by pointing this loader at their existing
config + aggregation-specifications files and calling
``build_continuous_pipeline``. Reference knobs that are
Spark-runtime concerns map as:

- windowSize / windowLag (seconds) → tumbling window size / watermark
- consumerTopic / producerTopic / kafka.* → sources.kafka options
- logging / prometheus endpoints → Spark's own log4j + metrics sinks
  (carried through for compatibility, not interpreted here)
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from monasca_aggregator_spark.models import AggregationSpec

DEFAULTS = {
    "windowSize": 10,
    "windowLag": 2,
    "consumerTopic": "metrics",
    "producerTopic": "metrics",
    "kafka": {"bootstrap.servers": "localhost:9092"},
    # wall-clock publication for quiet topics (the reference's ticker,
    # server.go:213-296): unions the rate-source heartbeat so windows
    # finalize at lag past close with no new data. On by default —
    # matching the reference's behavior; turn off for availableNow /
    # bounded-replay runs where the source drains and stops.
    "heartbeat": True,
}


@dataclass(frozen=True)
class EngineConfig:
    """The runtime settings; ``from_dict`` fills each one, from
    ``DEFAULTS`` where the file leaves it out."""

    window_size_sec: int
    window_lag_sec: int
    consumer_topic: str
    producer_topic: str
    bootstrap_servers: str
    heartbeat: bool
    extras: dict

    @classmethod
    def from_dict(cls, raw: dict[str, Any]) -> "EngineConfig":
        merged = {**DEFAULTS, **(raw or {})}
        kafka = {**DEFAULTS["kafka"], **(merged.get("kafka") or {})}
        known = {
            "windowSize",
            "windowLag",
            "consumerTopic",
            "producerTopic",
            "kafka",
            "heartbeat",
        }
        return cls(
            window_size_sec=int(merged["windowSize"]),
            window_lag_sec=int(merged["windowLag"]),
            consumer_topic=str(merged["consumerTopic"]),
            producer_topic=str(merged["producerTopic"]),
            bootstrap_servers=str(kafka["bootstrap.servers"]),
            heartbeat=bool(merged["heartbeat"]),
            extras={k: v for k, v in merged.items() if k not in known},
        )

    @classmethod
    def from_yaml(cls, path: str) -> "EngineConfig":
        import yaml

        with open(path) as f:
            return cls.from_dict(yaml.safe_load(f) or {})


SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"


def state_partitions(spark, n_rules: int) -> int:
    """State partitions for each of ``n_rules`` new rule queries: the
    session's cores shared out among the rules, at least one each."""
    return max(1, spark.sparkContext.defaultParallelism // max(1, n_rules))


def build_continuous_pipeline(
    spark,
    config: EngineConfig,
    specs: list[AggregationSpec],
    *,
    checkpoint_dir: str,
    source=None,
    sink=None,
):
    """The reference's whole runtime as one call: Kafka envelopes in →
    every rule's watermarked windowed aggregation (and rollup) →
    envelope JSON back to Kafka. Returns the started StreamingQueries
    (one per rule — independent state stores and output topics keep one
    hot rule from stalling the rest; reference runs them in one loop,
    server.go:306-310).

    Each rule query starts with ``state_partitions(spark, len(specs))``
    state partitions, about one state store per core across the
    queries: every store writes its own delta and checksum files on
    every micro-batch, and that per-store cost, not the data, bounds a
    small daemon's trigger time. Partial aggregation still runs on every
    input partition before the shuffle. Spark keeps the count in a
    query's checkpoint and restores it on restart, so adding or removing
    rules later leaves existing checkpoints' layout alone. The session's
    own ``spark.sql.shuffle.partitions`` is put back afterwards, also
    when starting a query raises; the queries this call had already
    started are then stopped before the error propagates.

    ``source``/``sink`` default to the Kafka edges (needs a broker +
    connector); inject alternatives to run the SAME composition
    against files/memory — ``source: () -> streaming DataFrame`` of
    envelopes, ``sink: (plan, spec) -> StreamingQuery``. (This is also
    how the broker-less tests cover the full runtime.)

    ``config.heartbeat`` (default ON — the reference's wall-clock
    ticker) unions the rate-source heartbeat so quiet topics still
    publish at lag past close. Set it false for BOUNDED replays
    (availableNow sinks): with a rate source in the union, availableNow
    terminates after the data batch without the watermark-flushing
    no-data batch and emits nothing.
    """
    from monasca_aggregator_spark.observability import (
        IN_METRIC,
        OUT_METRIC,
        count_edge,
    )
    from monasca_aggregator_spark.operators.aggregate import (
        build_aggregation,
        with_wallclock_heartbeat,
    )
    from monasca_aggregator_spark.sources.kafka import (
        read_envelope_stream,
        write_envelope_stream,
    )

    # the envelope stream has no arrival column: reject an arrival rule
    # before any query starts, from the specs (building every plan
    # first would hold back the first query by ~0.1 s per rule)
    for spec in specs:
        if spec.time_source == "arrival":
            raise ValueError(
                f"rule {spec.name}: time_source='arrival' needs an "
                "arrival column, which the daemon's envelope stream has not"
            )
    env = (
        source()
        if source is not None
        else read_envelope_stream(
            spark, config.bootstrap_servers, config.consumer_topic
        )
    )
    # reference parity: in_messages/out_messages counters
    # (server.go:42-48) — observe() metrics per micro-batch in each
    # query's StreamingQueryProgress.observedMetrics
    env, _ = count_edge(env, IN_METRIC, streaming=True)
    if config.heartbeat:
        # counted ABOVE the heartbeat union so in_messages stays a
        # true consumed-envelope count (ticks are not messages)
        env = with_wallclock_heartbeat(env, spark)
    queries = []
    # a query copies the session conf when it starts, so the sized
    # value only has to hold while the rule queries start
    previous = spark.conf.get(SHUFFLE_PARTITIONS)
    spark.conf.set(SHUFFLE_PARTITIONS, str(state_partitions(spark, len(specs))))
    try:
        for spec in specs:
            plan = build_aggregation(
                env, spec, config.window_size_sec, config.window_lag_sec
            )
            plan, _ = count_edge(plan, OUT_METRIC, streaming=True)
            if sink is not None:
                queries.append(sink(plan, spec))
            else:
                queries.append(
                    write_envelope_stream(
                        plan,
                        spec.name,
                        config.bootstrap_servers,
                        config.producer_topic,
                        checkpoint_dir=f"{checkpoint_dir}/{spec.name}",
                    )
                )
    except BaseException:
        # the caller gets no handle on the queries already started
        for q in queries:
            q.stop()
        raise
    finally:
        spark.conf.set(SHUFFLE_PARTITIONS, previous)
    return queries
