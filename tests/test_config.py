"""EngineConfig parses the reference's config.yaml surface verbatim and
applies its viper defaults; the envelope JSON-lines file source feeds
the same parse the Kafka path uses."""

from __future__ import annotations

import json

import pytest

from monasca_aggregator_spark.config import DEFAULTS, EngineConfig


def test_defaults_match_reference_viper_defaults():
    cfg = EngineConfig.from_dict({})
    # reference: server.go:90-112 SetDefault calls + config.yaml
    assert cfg.window_size_sec == DEFAULTS["windowSize"]
    assert cfg.window_lag_sec == DEFAULTS["windowLag"]
    assert cfg.consumer_topic == "metrics"
    assert cfg.producer_topic == "metrics"
    assert cfg.bootstrap_servers == "localhost:9092"


def test_reference_config_yaml_shape(tmp_path):
    p = tmp_path / "config.yaml"
    p.write_text(
        """
logging:
  level: INFO

windowSize: 60
windowLag: 5
consumerTopic: in-metrics
producerTopic: out-metrics

kafka:
  bootstrap.servers: broker-1:9092
  group.id: my-group

prometheus:
  endpoint: localhost:8080
""".strip()
    )
    cfg = EngineConfig.from_yaml(str(p))
    assert cfg.window_size_sec == 60
    assert cfg.window_lag_sec == 5
    assert cfg.consumer_topic == "in-metrics"
    assert cfg.producer_topic == "out-metrics"
    assert cfg.bootstrap_servers == "broker-1:9092"
    # unknown sections carried, not dropped
    assert cfg.extras["prometheus"]["endpoint"] == "localhost:8080"


def test_envelope_jsonl_file_source(spark, tmp_path):
    from monasca_aggregator_spark.sources.envelope import read_envelope_json

    lines = [
        json.dumps(
            {
                "metric": {
                    "name": "cpu.idle",
                    "dimensions": {"host": f"h{i}"},
                    "timestamp": 1000.0 * i,
                    "value": float(i),
                    "value_meta": {},
                },
                "meta": {"tenantId": "t0"},
                "creation_time": i,
            }
        )
        for i in range(5)
    ] + ["{not json"]  # malformed line → dropped, like the reference
    (tmp_path / "batch.jsonl").write_text("\n".join(lines))
    env = read_envelope_json(spark, str(tmp_path))
    rows = env.orderBy("value").collect()
    assert len(rows) == 5
    assert [r.dimensions["host"] for r in rows] == [f"h{i}" for i in range(5)]

    stream = read_envelope_json(spark, str(tmp_path), streaming=True)
    assert stream.isStreaming
    assert stream.columns == env.columns


def test_continuous_pipeline_composition_brokerless(spark, sf_small, tmp_path):
    """The whole-runtime composition (build_continuous_pipeline) run
    broker-less via injected file source + memory sink: two rules, each
    its own StreamingQuery, in/out counters in the progress events."""
    from monasca_aggregator_spark.config import (
        EngineConfig,
        build_continuous_pipeline,
    )
    from monasca_aggregator_spark.models import AggregationSpec
    from monasca_aggregator_spark.observability import IN_METRIC, OUT_METRIC
    from monasca_aggregator_spark.sources.envelope import events_to_envelopes
    from pyspark.sql import functions as F

    # heartbeat off: this is a BOUNDED availableNow replay — the
    # wall-clock heartbeat is for unbounded production topics (with a
    # rate source in the union, availableNow terminates after the data
    # batch without the watermark-flushing no-data batch)
    cfg = EngineConfig.from_dict(
        {"windowSize": 3600, "windowLag": 2, "heartbeat": False}
    )
    assert EngineConfig.from_dict({}).heartbeat  # production default ON
    specs = [
        AggregationSpec(
            name=f"r{i}",
            aggregated_metric_name=f"agg.{m}.sum",
            filtered_metric_name=m,
            function="sum",
        )
        for i, m in enumerate(["click", "view"])
    ]

    def source():
        raw_schema = spark.read.parquet(f"{sf_small}/events.parquet").schema
        raw = (
            spark.readStream.schema(raw_schema)
            .format("parquet")
            .option("pathGlobFilter", "events.parquet")
            .load(sf_small)
        )
        if dict(raw.dtypes)["ts"] == "bigint":
            raw = raw.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        return events_to_envelopes(raw)

    def sink(plan, spec):
        return (
            plan.writeStream.format("memory")
            .queryName(f"cp_{spec.name}")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / spec.name))
            .trigger(availableNow=True)
            .start()
        )

    queries = build_continuous_pipeline(
        spark, cfg, specs, checkpoint_dir=str(tmp_path), source=source,
        sink=sink,
    )
    assert len(queries) == 2
    observed = {}
    for q in queries:
        q.awaitTermination()
        for p in q.recentProgress:
            om = p["observedMetrics"] if isinstance(p, dict) else p.observedMetrics
            for k, v in om.items():
                observed[k] = observed.get(k, 0) + v["n"]
    # both rules produced windows; counters rode the micro-batches
    assert spark.table("cp_r0").count() > 0
    assert spark.table("cp_r1").count() > 0
    assert observed.get(IN_METRIC, 0) > 0
    assert observed.get(OUT_METRIC, 0) > 0


SHUFFLE = "spark.sql.shuffle.partitions"


def _envelope_lines(rows):
    """(metric name, host, event time in s, value) → envelope JSON lines."""
    return "\n".join(
        json.dumps(
            {
                "metric": {
                    "name": name,
                    "dimensions": {"host": host},
                    "timestamp": 1000.0 * t,
                    "value": value,
                    "value_meta": {},
                },
                "meta": {"tenantId": "t0"},
                "creation_time": 0,
            }
        )
        for name, host, t, value in rows
    ) + "\n"


def _sum_rule(name):
    from monasca_aggregator_spark.models import AggregationSpec

    return AggregationSpec(
        name=name,
        aggregated_metric_name="m.sum",
        filtered_metric_name="m",
        function="sum",
        grouped_dimensions=("host",),
    )


def _rollup_rule(name):
    from monasca_aggregator_spark.models import AggregationSpec, Rollup

    return AggregationSpec(
        name=name,
        aggregated_metric_name="m.max.sum",
        filtered_metric_name="m",
        function="max",
        grouped_dimensions=("host",),
        rollup=Rollup(function="sum", grouped_dimensions=()),
    )


def _drain_rules(spark, specs, src, out, fmt="parquet"):
    """``build_continuous_pipeline`` over the envelope files in ``src``,
    one sink (parquet, or envelope JSON text as the CLI writes it) and
    checkpoint per rule under ``out``, drained with availableNow."""
    from monasca_aggregator_spark.config import (
        EngineConfig,
        build_continuous_pipeline,
    )
    from monasca_aggregator_spark.sources.envelope import read_envelope_json
    from monasca_aggregator_spark.sources.kafka import envelopes_to_json

    cfg = EngineConfig.from_dict(
        {"windowSize": 10, "windowLag": 2, "heartbeat": False}
    )

    def sink(plan, spec):
        if fmt == "text":
            plan = envelopes_to_json(plan).select("value")
        return (
            plan.writeStream.format(fmt)
            .option("path", f"{out}/{spec.name}")
            .option("checkpointLocation", f"{out}/ckpt/{spec.name}")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    queries = build_continuous_pipeline(
        spark,
        cfg,
        specs,
        checkpoint_dir=f"{out}/ckpt",
        source=lambda: read_envelope_json(spark, str(src), streaming=True),
        sink=sink,
    )
    for q in queries:
        q.awaitTermination()


def _recorded_partitions(out, name, batch=0):
    """The shuffle-partition count a rule query's offset log recorded
    for ``batch`` (line 2 of the log entry is the batch metadata)."""
    entry = (out / "ckpt" / name / "offsets" / str(batch)).read_text()
    return int(json.loads(entry.splitlines()[1])["conf"][SHUFFLE])


def test_rule_queries_share_the_cores_as_state_partitions(spark, tmp_path):
    """Each rule query starts with max(1, cores // rules) state
    partitions: all the cores for one rule, one each when there are
    more rules than cores; the session's own setting is left as it
    was."""
    cores = spark.sparkContext.defaultParallelism
    before = spark.conf.get(SHUFFLE)
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.jsonl").write_text(
        _envelope_lines([("m", "h0", 1, 1.0), ("m", "h1", 15, 2.0)])
    )
    for n_rules, expected in ((1, cores), (cores + 1, 1)):
        out = tmp_path / f"n{n_rules}"
        names = [f"r{i}" for i in range(n_rules)]
        _drain_rules(spark, [_sum_rule(n) for n in names], src, out)
        assert [_recorded_partitions(out, n) for n in names] == [
            expected
        ] * n_rules
        assert spark.conf.get(SHUFFLE) == before


def test_session_partitions_restored_when_a_sink_raises(spark, tmp_path):
    from monasca_aggregator_spark.config import (
        EngineConfig,
        build_continuous_pipeline,
    )
    from monasca_aggregator_spark.sources.envelope import read_envelope_json

    cores = spark.sparkContext.defaultParallelism
    before = spark.conf.get(SHUFFLE)
    seen = []

    def sink(plan, spec):
        seen.append(spark.conf.get(SHUFFLE))
        if len(seen) == 2:
            raise RuntimeError("sink failed")

    with pytest.raises(RuntimeError, match="sink failed"):
        build_continuous_pipeline(
            spark,
            EngineConfig.from_dict({"heartbeat": False}),
            [_sum_rule(f"r{i}") for i in range(3)],
            checkpoint_dir=str(tmp_path),
            source=lambda: read_envelope_json(
                spark, str(tmp_path), streaming=True
            ),
            sink=sink,
        )
    assert seen == [str(max(1, cores // 3))] * 2
    assert spark.conf.get(SHUFFLE) == before


def test_arrival_rule_rejected_before_any_query_starts(spark, tmp_path):
    """The daemon's envelope stream has no arrival column, so it cannot
    run a ``timeSource: arrival`` rule: the pipeline raises, naming the
    rule, before the rule ahead of it has started a query."""
    from monasca_aggregator_spark.config import (
        EngineConfig,
        build_continuous_pipeline,
    )
    from monasca_aggregator_spark.models import AggregationSpec
    from monasca_aggregator_spark.sources.envelope import read_envelope_json

    arrival = AggregationSpec(
        name="arrival_delta",
        aggregated_metric_name="m.delta",
        filtered_metric_name="m",
        function="delta",
        time_source="arrival",
    )
    active = len(spark.streams.active)
    started = []

    def sink(plan, spec):
        q = (
            plan.writeStream.format("memory")
            .queryName(f"arrival_reject_{spec.name}")
            .option("checkpointLocation", str(tmp_path / "ck" / spec.name))
            .outputMode("append")
            .start()
        )
        started.append(q)
        return q

    try:
        with pytest.raises(ValueError, match="arrival_delta"):
            build_continuous_pipeline(
                spark,
                EngineConfig.from_dict({"heartbeat": False}),
                [_sum_rule("sum_first"), arrival],
                checkpoint_dir=str(tmp_path),
                source=lambda: read_envelope_json(
                    spark, str(tmp_path), streaming=True
                ),
                sink=sink,
            )
        assert started == []
        assert len(spark.streams.active) == active
    finally:
        for q in started:
            q.stop()


def test_restart_keeps_the_checkpointed_partition_count(spark, tmp_path):
    """A rule started alone gets every core as a state partition; when
    it restarts from its checkpoint beside more rules than cores, Spark
    restores that count, its open window's state carries over, and the
    committed output equals the batch plan with each window once."""
    from monasca_aggregator_spark.operators.aggregate import build_aggregation
    from monasca_aggregator_spark.sources.envelope import read_envelope_json

    cores = spark.sparkContext.defaultParallelism
    src = tmp_path / "src"
    out = tmp_path / "out"
    src.mkdir()
    # 10 s windows, 2 s lag: the first drain publishes [0,10) and
    # [10,20) and keeps [20,30) open in state across the restart
    (src / "a.jsonl").write_text(
        _envelope_lines(
            [("m", f"h{i % 2}", t, float(t)) for i, t in enumerate(range(1, 26, 3))]
        )
    )
    _drain_rules(spark, [_sum_rule("kept")], src, out)
    assert _recorded_partitions(out, "kept") == cores
    # a far-future envelope moves the watermark past every earlier
    # window, so the second drain publishes them all; its own window
    # never closes. (It has to match the rule: the rule's filter runs
    # below the watermark.)
    (src / "b.jsonl").write_text(
        _envelope_lines(
            [("m", f"h{i % 2}", t, float(t)) for i, t in enumerate(range(26, 46, 3))]
            + [("m", "h0", 1000, 0.0)]
        )
    )
    new = [f"new{i}" for i in range(cores)]
    _drain_rules(spark, [_sum_rule(n) for n in ["kept", *new]], src, out)

    batches = sorted(
        int(p.name) for p in (out / "ckpt" / "kept" / "offsets").iterdir()
        if p.name.isdigit()
    )
    assert len(batches) > 2, "the restart ran no batch"
    assert {_recorded_partitions(out, "kept", b) for b in batches} == {cores}
    assert {_recorded_partitions(out, n) for n in new} == {1}

    def key(r):
        return (r.window_ts_ms, r.tenant_id, tuple(sorted(r.dimensions.items())))

    expected = {
        key(r): r.value
        for r in build_aggregation(
            read_envelope_json(spark, str(src)), _sum_rule("kept"), 10
        ).collect()
        if r.window_ts_ms < 1_000_000
    }
    assert len(expected) == 10  # five windows x two hosts
    for name in ["kept", *new]:
        rows = spark.read.parquet(str(out / name)).collect()
        got = {key(r): r.value for r in rows}
        assert len(rows) == len(got), f"{name}: a window was emitted twice"
        assert got == expected, name


def test_rollup_rule_runs_beside_a_plain_rule_across_a_restart(spark, tmp_path):
    """A rollup rule runs in build_continuous_pipeline beside a plain
    rule. Each rule's committed output equals build_aggregation on the
    finalized windows, each (window, tenant, dims) once: after the
    first drain, and after both queries restart from their
    checkpoints with a window's first-stage state still open."""
    from pyspark.sql import functions as F

    from monasca_aggregator_spark.operators.aggregate import build_aggregation
    from monasca_aggregator_spark.sources.envelope import read_envelope_json

    src = tmp_path / "src"
    out = tmp_path / "out"
    src.mkdir()
    specs = [_sum_rule("plain"), _rollup_rule("rolled")]

    def key(r):
        return (r.window_ts_ms, r.tenant_id, tuple(sorted(r.dimensions.items())))

    def committed(name):
        rows = (
            read_envelope_json(spark, str(out / name))
            .withColumn("window_ts_ms", F.unix_millis("timestamp"))
            .collect()
        )
        got = {key(r): r.value for r in rows}
        assert len(rows) == len(got), f"{name}: a window was emitted twice"
        return got

    def expected(spec, before_ms):
        return {
            key(r): r.value
            for r in build_aggregation(
                read_envelope_json(spark, str(src)), spec, 10
            ).collect()
            if r.window_ts_ms + 10_000 <= before_ms
        }

    # 10 s windows, 2 s lag: the watermark reaches 25 - 2 = 23 s, so the
    # first drain publishes [0,10) and [10,20) and keeps [20,30) open
    (src / "a.jsonl").write_text(
        _envelope_lines(
            [("m", f"h{i % 2}", t, float(t)) for i, t in enumerate(range(1, 26, 3))]
        )
    )
    _drain_rules(spark, specs, src, out, fmt="text")
    for spec in specs:
        want = expected(spec, 23_000)
        assert len(want) == (4 if spec.rollup is None else 2)
        assert committed(spec.name) == want, spec.name

    # a far-future envelope moves the watermark past every earlier
    # window; its own window never closes
    (src / "b.jsonl").write_text(
        _envelope_lines(
            [("m", f"h{i % 2}", t, float(t)) for i, t in enumerate(range(26, 46, 3))]
            + [("m", "h0", 1000, 0.0)]
        )
    )
    _drain_rules(spark, specs, src, out, fmt="text")
    for spec in specs:
        want = expected(spec, 1_000_000)
        assert len(want) == (10 if spec.rollup is None else 5)
        assert committed(spec.name) == want, spec.name
