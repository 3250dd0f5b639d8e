"""EngineConfig parses the reference's config.yaml surface verbatim and
applies its viper defaults; the envelope JSON-lines file source feeds
the same parse the Kafka path uses."""

from __future__ import annotations

import json
import re

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
MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
FS_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


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
    return queries


def _exchanges(query):
    """The Exchange nodes in the physical plan of ``query``'s last
    micro-batch, each as (partitioning, partition count)."""
    plan = query._jsq.streamingQuery().lastExecution().executedPlan().toString()
    found = re.findall(r"Exchange (\w+)\(.*?, (\d+)\)", plan)
    assert len(found) == plan.count("Exchange "), plan
    return [(kind, int(n)) for kind, n in found]


def _recorded_partitions(out, name, batch=0):
    """The shuffle-partition count a rule query's offset log recorded
    for ``batch`` (line 2 of the log entry is the batch metadata)."""
    entry = (out / "ckpt" / name / "offsets" / str(batch)).read_text()
    return int(json.loads(entry.splitlines()[1])["conf"][SHUFFLE])


def test_rule_queries_share_the_cores_as_state_partitions(spark, tmp_path):
    """Each rule query starts with max(1, cores // rules) state
    partitions: all the cores for one rule, one each when there are
    more rules than cores; the session's own setting is left as it
    was. A rule query with one partition plans no Exchange; one with
    more shuffles its rows to them."""
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
        queries = _drain_rules(spark, [_sum_rule(n) for n in names], src, out)
        assert [_recorded_partitions(out, n) for n in names] == [
            expected
        ] * n_rules
        assert spark.conf.get(SHUFFLE) == before
        # one state partition: the rule aggregates where it reads, in
        # one stage with no shuffle; more: it hash-partitions its keys
        shuffles = [] if expected == 1 else [("hashpartitioning", cores)]
        assert [_exchanges(q) for q in queries] == [shuffles] * n_rules


def test_session_partitions_restored_when_a_sink_raises(spark, tmp_path):
    from monasca_aggregator_spark.config import (
        EngineConfig,
        build_continuous_pipeline,
    )
    from monasca_aggregator_spark.sources.envelope import read_envelope_json

    cores = spark.sparkContext.defaultParallelism
    before = spark.conf.get(SHUFFLE)
    manager_before = spark.conf.get(MANAGER, None)
    seen = []
    seen_managers = []

    class StartedQuery:
        stopped = False

        def stop(self):
            self.stopped = True

    started = StartedQuery()

    def sink(plan, spec):
        seen.append(spark.conf.get(SHUFFLE))
        seen_managers.append(spark.conf.get(MANAGER, None))
        if len(seen) == 2:
            raise RuntimeError("sink failed")
        return started

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
    assert seen_managers == [FS_MANAGER] * 2
    assert spark.conf.get(MANAGER, None) == manager_before
    # the first rule's query is not left running behind the error
    assert started.stopped


def test_local_checkpoints_start_queries_with_the_filesystem_manager(
    spark, tmp_path
):
    """A checkpoint directory on the local file system (a plain path or
    a ``file:`` URI) starts every rule query with the FileSystem-based
    checkpoint manager, which renames without forking ``readlink``; an
    ``hdfs://`` one leaves Spark's default. Either way the session's own
    setting is back afterwards."""
    from monasca_aggregator_spark.config import (
        EngineConfig,
        build_continuous_pipeline,
    )
    from monasca_aggregator_spark.sources.envelope import read_envelope_json

    before = spark.conf.get(MANAGER, None)

    def managers(checkpoint_dir):
        seen = []

        def sink(plan, spec):
            seen.append(spark.conf.get(MANAGER, None))
            return None

        build_continuous_pipeline(
            spark,
            EngineConfig.from_dict({"heartbeat": False}),
            [_sum_rule(f"r{i}") for i in range(2)],
            checkpoint_dir=checkpoint_dir,
            source=lambda: read_envelope_json(
                spark, str(tmp_path), streaming=True
            ),
            sink=sink,
        )
        assert spark.conf.get(MANAGER, None) == before
        return seen

    assert managers(str(tmp_path / "ckpt")) == [FS_MANAGER] * 2
    assert managers(f"file://{tmp_path}/ckpt") == [FS_MANAGER] * 2
    assert managers("hdfs://namenode:8020/ckpt") == [before] * 2


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


def _restart_kept_rule(spark, tmp_path, before, after):
    """Drain the rule "kept" beside ``before`` other rules, then restart
    it from its checkpoint beside ``after`` new ones. Asserts that every
    offset-log entry of "kept" holds the partition count of its first
    start, that its open window's state carries over, and that each
    query's committed output equals the batch plan with each window
    once. Returns the queries of both drains, "kept" first in each."""
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
    old = [f"old{i}" for i in range(before)]
    first = _drain_rules(spark, [_sum_rule(n) for n in ["kept", *old]], src, out)
    kept_partitions = max(1, cores // (1 + before))
    assert _recorded_partitions(out, "kept") == kept_partitions
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
    new = [f"new{i}" for i in range(after)]
    queries = _drain_rules(spark, [_sum_rule(n) for n in ["kept", *new]], src, out)

    batches = sorted(
        int(p.name) for p in (out / "ckpt" / "kept" / "offsets").iterdir()
        if p.name.isdigit()
    )
    assert len(batches) > 2, "the restart ran no batch"
    assert {_recorded_partitions(out, "kept", b) for b in batches} == {
        kept_partitions
    }
    new_partitions = max(1, cores // (1 + after))
    assert [_recorded_partitions(out, n) for n in new] == [new_partitions] * after

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
    return first, queries


def test_restart_keeps_the_checkpointed_partition_count(spark, tmp_path):
    """A rule started alone gets every core as a state partition; when
    it restarts from its checkpoint beside more rules than cores, Spark
    restores that count, and shuffles the rule's rows to them although
    the rules beside it run without a shuffle."""
    cores = spark.sparkContext.defaultParallelism
    (first,), (kept, *new) = _restart_kept_rule(spark, tmp_path, 0, cores)
    assert _exchanges(first) == [("hashpartitioning", cores)]
    assert _exchanges(kept) == [("hashpartitioning", cores)]
    assert [_exchanges(q) for q in new] == [[]] * cores


def test_restart_alone_keeps_one_checkpointed_partition(spark, tmp_path):
    """A rule started beside more rules than cores records one state
    partition and runs without a shuffle; when it restarts alone, the
    session offers every core, but Spark restores the one partition
    and shuffles the rule's rows to it, and the committed output
    still equals the batch plan with each window once."""
    cores = spark.sparkContext.defaultParallelism
    first, (kept,) = _restart_kept_rule(spark, tmp_path, cores, 0)
    assert [_exchanges(q) for q in first] == [[]] * (1 + cores)
    assert _exchanges(kept) == [("hashpartitioning", 1)]


def _drain_across_a_restart(spark, tmp_path, specs):
    """Drain ``specs``, then restart their queries from their
    checkpoints with a window's first-stage state still open. Asserts
    that each rule's committed output equals build_aggregation on the
    finalized windows, each (window, tenant, dims) once, after either
    drain. Returns the queries of both drains."""
    from pyspark.sql import functions as F

    from monasca_aggregator_spark.operators.aggregate import build_aggregation
    from monasca_aggregator_spark.sources.envelope import read_envelope_json

    src = tmp_path / "src"
    out = tmp_path / "out"
    src.mkdir()

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
    first = _drain_rules(spark, specs, src, out, fmt="text")
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
    restarted = _drain_rules(spark, specs, src, out, fmt="text")
    for spec in specs:
        want = expected(spec, 1_000_000)
        assert len(want) == (10 if spec.rollup is None else 5)
        assert committed(spec.name) == want, spec.name
    return first, restarted


def test_rollup_rule_runs_beside_a_plain_rule_across_a_restart(spark, tmp_path):
    """A rollup rule runs in build_continuous_pipeline beside a plain
    rule, across a restart."""
    _drain_across_a_restart(
        spark, tmp_path, [_sum_rule("plain"), _rollup_rule("rolled")]
    )


def test_rollup_rule_with_one_state_partition_runs_without_a_shuffle(
    spark, tmp_path
):
    """Beside more rules than cores, a rollup rule's two stateful
    aggregations share its one state partition: the query plans no
    Exchange, before or after a restart, and its output still equals
    the batch plan."""
    cores = spark.sparkContext.defaultParallelism
    specs = [_rollup_rule("rolled"), *(_sum_rule(f"r{i}") for i in range(cores))]
    first, restarted = _drain_across_a_restart(spark, tmp_path, specs)
    assert _exchanges(first[0]) == _exchanges(restarted[0]) == []


def test_rule_queries_reuse_their_generated_code_across_micro_batches(
    spark, tmp_path
):
    """Eight rule queries each drain four files, one per micro-batch.
    After each query's first two batches, its later batches find their
    stages' generated code in Spark's codegen cache: the cache holds
    every rule query's classes, and the output stage folds no per-batch
    value into its code. The watermark's flush batch, which reads no
    file, has fewer stages; since no class name carries its stage's
    codegen id, the stages above the missing one still find their
    code."""
    import os
    import time

    from monasca_aggregator_spark.config import (
        EngineConfig,
        build_continuous_pipeline,
    )
    from monasca_aggregator_spark.models import AggregationSpec
    from monasca_aggregator_spark.sources.envelope import parse_envelopes
    from monasca_aggregator_spark.sources.kafka import envelopes_to_json

    src = tmp_path / "src"
    src.mkdir()
    # 10 s windows, 2 s lag: each file moves the watermark past one
    # more window. The file source takes files in modification-time
    # order, so the files get one second apart.
    for k in range(4):
        path = src / f"{k}.jsonl"
        path.write_text(
            _envelope_lines(
                [("m", f"h{i % 4}", 10 * k + 3 + i, float(i)) for i in range(10)]
            )
        )
        os.utime(path, (1_000_000 + k, 1_000_000 + k))
    specs = [
        AggregationSpec(
            name=f"{fn}_{i}",
            aggregated_metric_name=f"m.{fn}.{i}",
            filtered_metric_name="m",
            function=fn,
            grouped_dimensions=("host",) if i % 2 else (),
            rejected_dimensions={"host": "h3"} if i == 2 else {},
        )
        for i, fn in enumerate(
            ["sum", "count", "avg", "min", "max", "delta", "rate", "count"]
        )
    ]

    def sink(plan, spec):
        return (
            envelopes_to_json(plan)
            .select("value")
            .writeStream.format("text")
            .option("path", str(tmp_path / spec.name))
            .option("checkpointLocation", str(tmp_path / "ckpt" / spec.name))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    def batches_done(q):
        progress = q.lastProgress
        return 0 if progress is None else progress["batchId"] + 1

    compilations = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )
    queries = build_continuous_pipeline(
        spark,
        EngineConfig.from_dict({"windowSize": 10, "windowLag": 2, "heartbeat": False}),
        specs,
        checkpoint_dir=str(tmp_path / "ckpt"),
        source=lambda: parse_envelopes(
            spark.readStream.option("maxFilesPerTrigger", 1).text(str(src))
        ),
        sink=sink,
    )
    after_two = None
    while any(q.isActive for q in queries):
        done = [batches_done(q) for q in queries]
        if after_two is None and min(done) >= 2:
            after_two = (compilations.getCount(), sum(done))
        time.sleep(0.05)
    for q in queries:
        q.awaitTermination()
        assert q.exception() is None
    done = [batches_done(q) for q in queries]
    assert min(done) >= 4, "a file was not read in its own micro-batch"
    assert after_two is not None
    later_batches = sum(done) - after_two[1]
    later_compilations = compilations.getCount() - after_two[0]
    assert later_batches >= len(specs)
    # measured: 0 classes over 15 later batches; with the codegen id in
    # the class names, 25-37 over 13-15 once a one-partition rule query
    # runs as one stage, and 47 over 24 before (1.96 per batch); with
    # Spark's default 100-entry cache and a per-batch literal in the
    # output stage, 260 (10.8 per batch); with either fix alone, 3.96
    # (literal left) and 4.63 (cache left) per batch
    assert later_compilations <= 2.5 * later_batches
