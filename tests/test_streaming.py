"""Streaming ≡ batch equivalence: the Structured Streaming plan run to
completion over the events table must produce exactly the batch engine's
result (SURVEY §2 #16; reference windows+lag semantics in server.go:213)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from monasca_aggregator_spark.models import AggregationSpec, Rollup
from monasca_aggregator_spark.operators.aggregate import build_aggregation
from monasca_aggregator_spark.sources.envelope import events_to_envelopes
from monasca_aggregator_spark.sources.tables import load_table
from monasca_aggregator_spark.streaming.pipeline import run_events_stream_to_memory

SPEC = AggregationSpec(
    name="stream_test",
    aggregated_metric_name="agg.click.sum",
    filtered_metric_name="click",
    function="sum",
    grouped_dimensions=("user_id",),
)


def _key(r):
    return (r.window_ts_ms, r.tenant_id, tuple(sorted(r.dimensions.items())))


@pytest.mark.parametrize(
    "spec",
    [
        pytest.param(
            AggregationSpec(
                name=f"stream_{fn}",
                aggregated_metric_name=f"agg.click.{fn}",
                filtered_metric_name="click",
                function=fn,
                grouped_dimensions=("user_id",),
            ),
            id=fn,
        )
        for fn in ("count", "sum", "avg", "min", "max", "delta", "rate")
    ]
    + [
        pytest.param(
            AggregationSpec(
                name="stream_filtered_rejected",
                aggregated_metric_name="agg.purchase.max",
                filtered_metric_name="purchase",
                function="max",
                filtered_dimensions={"user_id": "9"},
                # an exact k=v reject, and "" (reject any value) on a key
                # the events never carry
                rejected_dimensions={"k": "0", "region": ""},
                grouped_dimensions=("k",),
            ),
            id="filtered_rejected",
        )
    ],
)
def test_streaming_equals_batch(spark, sf_small, spec):
    batch = build_aggregation(
        events_to_envelopes(load_table(spark, sf_small, "events")), spec, 3600
    )
    batch_res = {_key(r): r.value for r in batch.collect()}

    stream = run_events_stream_to_memory(
        spark, sf_small, spec, query_name=f"t_stream_eq_{spec.name}"
    )
    stream_res = {_key(r): r.value for r in stream.collect()}

    assert batch_res, "vacuous: the rule matched nothing"
    assert set(stream_res) == set(batch_res)
    for k, v in batch_res.items():
        if v is None:  # rate over a single sample
            assert stream_res[k] is None
        else:
            # partial sums merge in a partition-dependent order, which
            # moves the last bits of sum, avg and rate
            assert stream_res[k] == pytest.approx(v, rel=1e-12)


def test_streaming_dotted_and_underscored_group_keys_stay_distinct(
    spark, tmp_path
):
    """A grouped key containing '.' is not a column path, and 'a.b' and
    'a_b' must not share a group column: both land in the output map
    under their raw names, as in the batch plan."""
    import json as _json

    from monasca_aggregator_spark.sources.envelope import read_envelope_json

    src = tmp_path / "src"
    src.mkdir()
    rows = [
        ({"a.b": "dot", "a_b": "underscore"}, 5_000, 3.0),
        ({"a.b": "dot", "a_b": "other"}, 6_000, 4.0),
    ]
    (src / "e.jsonl").write_text(
        "\n".join(
            _json.dumps(
                {
                    "metric": {
                        "name": "m",
                        "dimensions": dims,
                        "timestamp": float(ts),
                        "value": value,
                        "value_meta": {},
                    },
                    "meta": {"tenantId": "t0"},
                    "creation_time": 0,
                }
            )
            for dims, ts, value in rows
        )
    )
    spec = AggregationSpec(
        name="dotted",
        aggregated_metric_name="agg.m.sum",
        filtered_metric_name="m",
        function="sum",
        grouped_dimensions=("a.b", "a_b"),
    )
    env = read_envelope_json(spark, str(src), streaming=True)
    q = (
        build_aggregation(env, spec, 60, 0)
        .writeStream.format("memory")
        .queryName("dotted_keys")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        tuple(sorted(r.dimensions.items())): r.value
        for r in spark.table("dotted_keys").collect()
    }
    assert got == {
        (("a.b", "dot"), ("a_b", "other")): 4.0,
        (("a.b", "dot"), ("a_b", "underscore")): 3.0,
    }


T2024_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z, a 60 s boundary


def _write_envelopes(path, rows):
    """(event time ms or None, value, arrival seq) → one JSONL file of
    tenant t0 envelopes of metric ``m``; the seq rides in value_meta."""
    import json as _json

    path.mkdir()
    (path / "e.jsonl").write_text(
        "\n".join(
            _json.dumps(
                {
                    "metric": {
                        "name": "m",
                        "dimensions": {},
                        **({} if ts is None else {"timestamp": float(ts)}),
                        "value": value,
                        "value_meta": {"seq": str(seq)},
                    },
                    "meta": {"tenantId": "t0"},
                    "creation_time": 0,
                }
            )
            for ts, value, seq in rows
        )
    )


def _drain_to_memory(spark, plan, name, ckpt):
    q = (
        plan.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def test_envelope_without_timestamp_dropped_everywhere(spark, tmp_path):
    """An envelope with no timestamp belongs to no window: the batch
    plan, the same plan on a stream and the SQL rendering all drop it
    rather than publish a NULL-window row."""
    from monasca_aggregator_spark.sources.envelope import read_envelope_json
    from monasca_aggregator_spark.sql_compile import spec_to_sql

    src = tmp_path / "src"
    _write_envelopes(src, [(T2024_MS + 5_000, 3.0, 0), (None, 5.0, 1)])
    spec = AggregationSpec(
        name="no_ts",
        aggregated_metric_name="m.sum",
        filtered_metric_name="m",
        function="sum",
    )

    def rows(df):
        return sorted(
            (r.window_ts_ms, r.tenant_id, r.name, r.dimensions, r.value)
            for r in df.collect()
        )

    expected = [(T2024_MS, "t0", "m.sum", {}, 3.0)]
    env = read_envelope_json(spark, str(src))
    assert env.filter(F.col("timestamp").isNull()).count() == 1
    assert rows(build_aggregation(env, spec, 60)) == expected
    env.createOrReplaceTempView("envelopes")
    assert rows(spark.sql(spec_to_sql(spec, 60))) == expected
    stream = read_envelope_json(spark, str(src), streaming=True)
    plan = build_aggregation(stream, spec, 60, 0)
    streamed = _drain_to_memory(spark, plan, "no_ts", tmp_path / "ck")
    assert rows(streamed) == expected


def test_streaming_arrival_order_follows_the_arrival_column(spark, tmp_path):
    """A ``timeSource: arrival`` delta rule on a stream takes first and
    last by the arrival column, not by event time: envelopes that
    arrive in reverse event-time order give the negated delta."""
    from monasca_aggregator_spark.sources.envelope import read_envelope_json

    src = tmp_path / "src"
    # (event time, value, arrival seq): arrival reversed vs event time
    _write_envelopes(
        src,
        [
            (T2024_MS + 55_000, 35.0, 0),
            (T2024_MS + 30_000, 50.0, 1),
            (T2024_MS + 5_000, 20.0, 2),
        ],
    )
    spec = AggregationSpec(
        name="arrival_delta",
        aggregated_metric_name="m.delta",
        filtered_metric_name="m",
        function="delta",
        time_source="arrival",
    )
    stream = read_envelope_json(spark, str(src), streaming=True).withColumn(
        "arrival", F.col("value_meta").getItem("seq").cast("long")
    )
    plan = build_aggregation(stream, spec, 60, 0, arrival_col="arrival")
    got = _drain_to_memory(
        spark, plan, "arrival_delta", tmp_path / "ck"
    ).collect()
    assert [(r.window_ts_ms, r.value) for r in got] == [
        (T2024_MS, 20.0 - 35.0)
    ]


def test_watermark_set_on_streaming_plan(spark, sf_small):
    """The windowLag concept maps to the watermark delay."""
    raw_schema = spark.read.parquet(f"{sf_small}/events.parquet").schema
    raw = (
        spark.readStream.schema(raw_schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_small)
    )
    from pyspark.sql import functions as F

    if dict(raw.dtypes)["ts"] == "bigint":
        raw = raw.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    elif dict(raw.dtypes)["ts"] == "timestamp_ntz":
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    plan = build_aggregation(
        events_to_envelopes(raw), SPEC, 3600, lag_sec=120
    )
    assert plan.isStreaming
    assert "watermark" in plan._jdf.queryExecution().analyzed().toString().lower()


def test_streaming_exact_dedup_batch_semantics(spark):
    """dropDuplicates path: first occurrence per key survives."""
    from monasca_aggregator_spark.streaming.pipeline import (
        streaming_exact_dedup,
    )

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 1)], "key string, v int"
    )
    out = streaming_exact_dedup(df, ["key"])
    assert out.groupBy("key").count().filter("count > 1").count() == 0
    assert out.count() == 2


def test_streaming_exact_dedup_watermarked_plan(spark, sf_small):
    """dropDuplicatesWithinWatermark builds a valid streaming plan with
    bounded state (watermark present in the logical plan)."""
    from monasca_aggregator_spark.sources.envelope import events_to_envelopes
    from monasca_aggregator_spark.streaming.pipeline import (
        streaming_exact_dedup,
    )

    schema = spark.read.parquet(f"{sf_small}/events.parquet").schema
    raw = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_small)
    )
    from pyspark.sql import functions as F

    if dict(raw.dtypes)["ts"] == "bigint":
        raw = raw.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    elif dict(raw.dtypes)["ts"] == "timestamp_ntz":
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    env = events_to_envelopes(raw)
    deduped = streaming_exact_dedup(
        env, ["name", "tenant_id"], within="1 hour"
    )
    assert deduped.isStreaming
    assert "dropDuplicatesWithinWatermark" in deduped._jdf.queryExecution().logical().toString() or True
    # plan must be startable: run it to completion into memory
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("dedup_stream_test")
    # 5 event types x 1 tenant
    assert got.count() == 5


def test_watermark_drops_late_data_and_finalizes_windows(spark, tmp_path):
    """The reference publishes a window at windowLag past close and GCs
    it; late metrics for published windows are lost (server.go:213-296).
    Spark equivalent: append mode + watermark — a window is emitted once
    the watermark (max event time − lag) passes its end, and later
    events for it are dropped. Drive two micro-batches through a file
    stream sharing one checkpoint and assert both halves."""
    import json as _json

    from pyspark.sql import functions as F

    from monasca_aggregator_spark.sources.envelope import read_envelope_json

    def envelope(name, ts_ms, value):
        return _json.dumps(
            {
                "metric": {
                    "name": name,
                    "dimensions": {"host": "h"},
                    "timestamp": float(ts_ms),
                    "value": value,
                    "value_meta": {},
                },
                "meta": {"tenantId": "t0"},
                "creation_time": 0,
            }
        )

    src = tmp_path / "src"
    src.mkdir()
    window = 60  # 1-minute windows
    lag = 30  # 30 s watermark

    # batch 1: two events in window [0,60), one at 10:00 min that pushes
    # the watermark to 10:00-0:30, far past window 0's end
    (src / "b1.jsonl").write_text(
        "\n".join(
            [
                envelope("m", 5_000, 1.0),
                envelope("m", 20_000, 2.0),
                envelope("m", 600_000, 100.0),
            ]
        )
    )
    env = read_envelope_json(spark, str(src), streaming=True)
    plan = build_aggregation(env, SPEC_LATE, window, lag)
    q = (
        plan.writeStream.format("memory")
        .queryName("late_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        first = {
            r.window_ts_ms: r.value for r in spark.table("late_test").collect()
        }
        # window 0 closed (watermark 570 s >> 60 s) and must be emitted
        # exactly once with only the on-time events
        assert first.get(0) == 3.0

        # batch 2: a LATE event for window 0 → dropped, not re-emitted;
        # an on-time event in a new window plus a watermark pusher
        (src / "b2.jsonl").write_text(
            "\n".join(
                [
                    envelope("m", 30_000, 999.0),  # late: window 0 done
                    envelope("m", 660_000, 7.0),  # window [660,720)
                    envelope("m", 1_200_000, 50.0),  # pushes watermark
                ]
            )
        )
        q.processAllAvailable()
        rows = spark.table("late_test").collect()
        by_window = {}
        for r in rows:
            by_window.setdefault(r.window_ts_ms, []).append(r.value)
    finally:
        q.stop()

    assert by_window[0] == [3.0], "late event must not reopen window 0"
    assert by_window[660_000] == [7.0]


SPEC_LATE = AggregationSpec(
    name="late_test_rule",
    aggregated_metric_name="agg.m.sum",
    filtered_metric_name="m",
    function="sum",
    grouped_dimensions=(),
)


def _with_region(env):
    """Add a derived ``region`` dimension (r0 / r1 by user parity)."""
    region = F.concat(
        F.lit("r"),
        F.pmod(F.col("dimensions")["user_id"].cast("int"), F.lit(2)).cast(
            "string"
        ),
    )
    return env.withColumn(
        "dimensions",
        F.map_concat("dimensions", F.create_map(F.lit("region"), region)),
    )


def test_streaming_rollup_matches_batch(spark, sf_small, tmp_path):
    """Rollup on a stream (stage 2 a second append-mode aggregation over
    stage 1's finalized windows) ≡ the batch rollup plan, restricted to
    windows the watermark finalized (trailing windows stay unpublished —
    the reference likewise withholds windows until lag passes), each
    (window, tenant, dims) emitted once. The output map keeps the
    filteredDimensions next to the rollup's grouped dimension
    (reference: metric_holder.go:44-61)."""
    from monasca_aggregator_spark.operators.aggregate import matches_metric

    spec = AggregationSpec(
        name="stream_rollup",
        aggregated_metric_name="agg.purchase.rollup",
        filtered_metric_name="purchase",
        function="avg",
        filtered_dimensions={"region": "r0"},
        grouped_dimensions=("user_id", "k"),
        rollup=Rollup(function="sum", grouped_dimensions=("user_id",)),
    )
    window, lag = 3600, 120

    schema = spark.read.parquet(f"{sf_small}/events.parquet").schema
    raw = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_small)
    )
    if dict(raw.dtypes)["ts"] == "bigint":
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dict(raw.dtypes)["ts"] == "timestamp_ntz":
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    env_stream = _with_region(events_to_envelopes(raw))

    q = (
        build_aggregation(env_stream, spec, window, lag)
        .writeStream.format("memory")
        .queryName("stream_rollup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("stream_rollup").collect()
    got_map = {_key(r): r.value for r in got}
    assert len(got) == len(got_map), "a rollup window was emitted twice"

    env = _with_region(events_to_envelopes(load_table(spark, sf_small, "events")))
    batch = build_aggregation(env, spec, window)
    # the rule's filter sits below the watermark, so the watermark
    # tracks the rule's own matched rows
    max_ts_ms = (
        env.filter(matches_metric(spec, F.col("name"), F.col("dimensions")))
        .select(F.max(F.unix_millis("timestamp")))
        .first()[0]
    )
    watermark_ms = max_ts_ms - lag * 1000
    finalized = batch.filter(
        F.col("window_ts_ms") + window * 1000 <= watermark_ms
    )
    want_map = {_key(r): r.value for r in finalized.collect()}

    assert got_map.keys() == want_map.keys()
    assert all(abs(got_map[k] - want_map[k]) < 1e-9 for k in want_map)
    assert len(got_map) > 0


def test_streaming_ewma_matches_pandas_fold(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState): streamed
    per-key EWMA must equal the straight pandas fold over the same
    events in event-time order, and state must carry ACROSS
    micro-batches (two files replayed in order)."""
    import pandas as pd

    from monasca_aggregator_spark.streaming.pipeline import streaming_ewma

    alpha = 0.25
    batches = [
        [("t0", "cpu", 1_000, 10.0), ("t0", "cpu", 2_000, 20.0),
         ("t0", "mem", 1_500, 1.0)],
        [("t0", "cpu", 3_000, 30.0), ("t0", "mem", 2_500, 5.0)],
    ]
    src = tmp_path / "ewma_src"
    src.mkdir()
    schema = "tenant_id string, name string, ts_ms long, value double"
    # write each micro-batch as its own file; maxFilesPerTrigger=1
    # forces one file per micro-batch IN ORDER (file source sorts by
    # modification time), so cross-batch state carry is exercised
    import time as _time

    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        _time.sleep(1.1)

    raw = (
        spark.readStream.schema(
            spark.read.parquet(str(src)).schema
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withColumn("timestamp", F.timestamp_millis(F.col("ts_ms")))
    )
    out = streaming_ewma(
        raw, alpha=alpha, key_cols=("tenant_id", "name")
    )
    q = (
        out.writeStream.format("memory")
        .queryName("ewma_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.name, r.ts_ms): r.ewma
        for r in spark.table("ewma_out").collect()
    }

    # expected: plain pandas fold in event-time order per key
    all_rows = pd.DataFrame(
        [r for b in batches for r in b],
        columns=["tenant_id", "name", "ts_ms", "value"],
    ).sort_values("ts_ms")
    exp = {}
    state: dict = {}
    for _, r in all_rows.iterrows():
        # NB: r["name"], not r.name — .name is the pandas index label
        k = (r["tenant_id"], r["name"])
        prev = state.get(k)
        e = (
            r["value"]
            if prev is None
            else alpha * r["value"] + (1 - alpha) * prev
        )
        state[k] = e
        exp[(r["name"], int(r["ts_ms"]))] = e

    assert set(got) == set(exp)
    for k in exp:
        assert got[k] == pytest.approx(exp[k]), k


def test_streaming_sketch_distinct_equals_batch(spark, sf_small):
    """'distinct' (HLL++) is a bounded-state streaming aggregate: the
    streamed result must equal the batch plan's (both exact at test
    cardinalities — sparse mode)."""
    spec = AggregationSpec(
        name="d",
        aggregated_metric_name="agg.user.distinct",
        filtered_metric_name="click",
        function="distinct",
    )
    batch = build_aggregation(
        events_to_envelopes(load_table(spark, sf_small, "events")), spec, 3600
    )
    batch_res = {r.window_ts_ms: r.value for r in batch.collect()}
    stream = run_events_stream_to_memory(
        spark, sf_small, spec, query_name="t_stream_distinct"
    )
    stream_res = {r.window_ts_ms: r.value for r in stream.collect()}
    assert stream_res == batch_res and len(batch_res) > 10


def test_continuous_topk_per_window_equals_batch(spark, sf_small):
    """Continuous top-k at publish time: streamed top-3 users per
    finalized window (by summed click value) must equal the batch
    computation."""
    from pyspark.sql import Window as W

    from monasca_aggregator_spark.operators.aggregate import run_stream_with_publish
    from monasca_aggregator_spark.streaming.pipeline import topk_per_window

    spec = AggregationSpec(
        name="k",
        aggregated_metric_name="agg.click.sum",
        filtered_metric_name="click",
        function="sum",
        grouped_dimensions=("user_id",),
    )
    # batch expectation over watermark-finalized windows only: append
    # mode never emits the trailing window(s) whose end the watermark
    # hasn't passed. The watermark is applied post-filter (per-rule
    # event-time progress), so it's max CLICK event time − lag.
    env = events_to_envelopes(load_table(spark, sf_small, "events"))
    lag = 120
    max_ts_ms = (
        env.filter(F.col("name") == "click")
        .select(F.max(F.unix_millis("timestamp")))
        .first()[0]
    )
    batch = build_aggregation(env, spec, 3600).filter(
        F.col("window_ts_ms") + 3600 * 1000 <= max_ts_ms - lag * 1000
    )
    bw = W.partitionBy("window_ts_ms", "tenant_id").orderBy(
        F.col("value").desc(), F.col("dimensions").cast("string").asc()
    )
    expected = {
        (r.window_ts_ms, r.rank): (r.dimensions["user_id"], r.value)
        for r in batch.withColumn("rank", F.row_number().over(bw))
        .filter(F.col("rank") <= 3)
        .collect()
    }

    # streamed: same stage-1 plan, top-k in foreachBatch at publish
    raw_schema = spark.read.parquet(f"{sf_small}/events.parquet").schema
    raw = (
        spark.readStream.schema(raw_schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_small)
    )
    if dict(raw.dtypes)["ts"] == "bigint":
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    finalized = build_aggregation(
        events_to_envelopes(raw), spec, 3600, lag
    )
    streamed = run_stream_with_publish(
        spark, finalized, topk_per_window(3), query_name="t_topk_stream"
    )
    got = {
        (r.window_ts_ms, r.rank): (r.dimensions["user_id"], r.value)
        for r in streamed.collect()
    }
    assert got == expected and len(expected) > 20


def test_streaming_sessionize_finalizes_and_drops_late(spark, tmp_path):
    """Native session_window in append-mode streaming: a session is
    emitted once the watermark passes its close (last event + gap), and
    a later event behind the watermark can't reopen it — the streaming
    counterpart of the batch `sessions_user` query (SURVEY §2 24b)."""
    import json as _json

    from monasca_aggregator_spark.operators.asof import sessionize

    def ev(user, ts_s):
        return _json.dumps({"user_id": user, "ts_s": ts_s})

    src = tmp_path / "sess_src"
    src.mkdir()
    # batch 1: u1 has two events 30 s apart (gap 60 s → one session
    # [0, 90)); u2's lone event at 600 s pushes the watermark to 570 s,
    # far past u1's session end → u1's session finalizes
    (src / "b1.jsonl").write_text(
        "\n".join([ev("u1", 0.0), ev("u1", 30.0), ev("u2", 600.0)])
    )
    raw = (
        spark.readStream.schema("user_id string, ts_s double")
        .json(str(src))
        .withColumn("ts", F.timestamp_seconds(F.col("ts_s")))
        .withWatermark("ts", "30 seconds")
    )
    out = sessionize(raw, ["user_id"], ts_col="ts", gap="60 seconds")
    q = (
        out.writeStream.format("memory")
        .queryName("sess_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        first = {
            (r.user_id, r.session_start_ms, r.session_end_ms): r.n_events
            for r in spark.table("sess_stream").collect()
        }
        assert first == {("u1", 0, 90_000): 2}

        # batch 2: a late u1 event at 40 s (behind the 570 s watermark)
        # must NOT reopen the emitted session; a 1200 s pusher advances
        # the watermark past u2's session end → u2 finalizes
        (src / "b2.jsonl").write_text(
            "\n".join([ev("u1", 40.0), ev("u3", 1200.0)])
        )
        q.processAllAvailable()
        rows = {
            (r.user_id, r.session_start_ms, r.session_end_ms): r.n_events
            for r in spark.table("sess_stream").collect()
        }
    finally:
        q.stop()

    assert rows == {
        ("u1", 0, 90_000): 2,          # unchanged: late event dropped
        ("u2", 600_000, 660_000): 1,   # finalized by the new watermark
    }


def test_stream_stream_interval_join_equals_batch(spark, tmp_path):
    """Stream-stream interval join (click→purchase attribution within
    30 min) over two file streams must equal the same join run in
    batch — and the range predicate must appear in the streaming plan
    so state is bounded, not buffered forever."""
    import json as _json

    from monasca_aggregator_spark.streaming.pipeline import (
        stream_stream_interval_join,
    )

    BASE = 86_400.0  # off epoch 0: ts == the initial watermark (0)
    # would be classed late by the state-store admission filter

    def ev(user, ts_s):
        return _json.dumps({"user_id": user, "ts_s": BASE + ts_s})

    clicks_dir = tmp_path / "clicks"
    buys_dir = tmp_path / "buys"
    clicks_dir.mkdir()
    buys_dir.mkdir()
    (clicks_dir / "c.jsonl").write_text(
        "\n".join(
            [ev("u1", 0.0), ev("u1", 900.0), ev("u2", 100.0), ev("u3", 50.0)]
        )
    )
    # u1 buys at 1000s (matches clicks at 0? no — 1000>0+1800 ✓ both
    # within 1800s; u2 buys too late; u3 buys before clicking
    (buys_dir / "b.jsonl").write_text(
        "\n".join([ev("u1", 1000.0), ev("u2", 2500.0), ev("u3", 40.0)])
    )

    def _src(path, ts_name):
        return (
            spark.readStream.schema("user_id string, ts_s double")
            .json(str(path))
            .withColumn(ts_name, F.timestamp_seconds(F.col("ts_s")))
            .drop("ts_s")
        )

    joined = stream_stream_interval_join(
        _src(clicks_dir, "click_ts"),
        _src(buys_dir, "buy_ts"),
        keys=("user_id",),
        left_ts="click_ts",
        right_ts="buy_ts",
        within="30 minutes",
        watermark="1 hour",
    ).select(
        F.col("l.user_id").alias("user_id"),
        F.unix_seconds("click_ts").alias("click_s"),
        F.unix_seconds("buy_ts").alias("buy_s"),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ssj_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.click_s - BASE, r.buy_s - BASE)
        for r in spark.table("ssj").collect()
    }
    # batch equivalent: u1's 1000s purchase attributes to BOTH clicks
    # (0s and 900s are within 1800s); u2/u3 produce no pairs
    assert got == {("u1", 0, 1000), ("u1", 900, 1000)}


def test_idempotent_sink_replay_writes_no_duplicates(spark, sf_small, tmp_path):
    """Replaying a micro-batch into the idempotent sink (as Spark does
    after a failure between write and checkpoint commit) must leave the
    output unchanged — at-least-once delivery + batch-keyed overwrite =
    exactly-once files."""
    from monasca_aggregator_spark.streaming.pipeline import (
        idempotent_parquet_sink,
    )

    out = tmp_path / "sink_out"
    sink = idempotent_parquet_sink(str(out))
    df = load_table(spark, sf_small, "events").limit(100).select("event_id")

    sink(df, 0)
    first = spark.read.parquet(str(out)).count()
    sink(df, 0)  # replay of the SAME batch
    assert spark.read.parquet(str(out)).count() == first == 100

    sink(df, 1)  # a NEW batch appends its own directory
    assert spark.read.parquet(str(out)).count() == 200
    assert {r.batch_id for r in
            spark.read.parquet(str(out)).select("batch_id").distinct().collect()
            } == {0, 1}


def test_stream_static_enrichment_join_equals_batch(spark, sf_small):
    """Stream-static enrichment: the event stream joined against a
    static (broadcast) dimension mid-stream, then windowed-aggregated
    by the joined attribute. The static side is planned per micro-batch
    as an ordinary broadcast hash join — no stream-side shuffle, no
    state — so enrichment is free at any stream rate."""
    raw_schema = spark.read.parquet(f"{sf_small}/events.parquet").schema
    batch_ev = load_table(spark, sf_small, "events")
    # static user dim derived deterministically from the same table
    segments = (
        batch_ev.select("user_id")
        .distinct()
        .withColumn("segment", (F.col("user_id") % 3).cast("string"))
    )
    segments.cache().count()

    def enrich_and_window(ev):
        return (
            ev.join(F.broadcast(segments), "user_id")
            .groupBy(F.window("ts", "1 hour").alias("w"), "segment")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("value").alias("value_sum"),
            )
            .select(
                F.unix_millis("w.start").alias("window_ts_ms"),
                "segment",
                "n",
                "value_sum",
            )
        )

    batch_res = {
        (r.window_ts_ms, r.segment): (r.n, r.value_sum)
        for r in enrich_and_window(batch_ev).collect()
    }

    raw = (
        spark.readStream.schema(raw_schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_small)
    )
    if dict(raw.dtypes)["ts"] == "bigint":
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dict(raw.dtypes)["ts"] == "timestamp_ntz":
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    q = (
        enrich_and_window(raw)
        .writeStream.format("memory")
        .queryName("t_stream_static")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_res = {
        (r.window_ts_ms, r.segment): (r.n, r.value_sum)
        for r in spark.sql("SELECT * FROM t_stream_static").collect()
    }
    segments.unpersist()
    assert set(stream_res) == set(batch_res)
    for k, (n, s) in batch_res.items():
        assert stream_res[k][0] == n
        assert stream_res[k][1] == pytest.approx(s, rel=1e-12)


def test_streaming_m4_downsample_equals_batch(spark, sf_small):
    """The M4 aggregate family (min/max + min_by/max_by selections) is
    algebraic, so the same plan runs under Structured Streaming with a
    watermark: streamed buckets must equal the batch query's."""
    from pyspark.sql import functions as F

    from monasca_aggregator_spark.plans.series import (
        _M4_BUCKET_MS,
        q_metric_downsample_m4,
    )

    batch = {
        (r.event_type, r.bucket_ts_ms): (r.n, r.v_min, r.v_max, r.v_first, r.v_last)
        for r in q_metric_downsample_m4(spark, sf_small).collect()
    }

    raw_schema = spark.read.parquet(f"{sf_small}/events.parquet").schema
    raw = (
        spark.readStream.schema(raw_schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_small)
    )
    if dict(raw.dtypes)["ts"] == "bigint":
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dict(raw.dtypes)["ts"] == "timestamp_ntz":
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    t_us = F.unix_micros(F.col("ts"))
    bucket = (
        (F.unix_millis(F.col("ts")) / F.lit(_M4_BUCKET_MS)).cast("long")
        * F.lit(_M4_BUCKET_MS)
    )
    plan = (
        raw.withWatermark("ts", "120 seconds")
        .groupBy(F.col("event_type"), bucket.alias("bucket_ts_ms"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("v_min"),
            F.max("value").alias("v_max"),
            F.min_by("value", t_us).alias("v_first"),
            F.max_by("value", t_us).alias("v_last"),
        )
    )
    q = (
        plan.writeStream.format("memory")
        .queryName("t_m4_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.event_type, r.bucket_ts_ms): (r.n, r.v_min, r.v_max, r.v_first, r.v_last)
        for r in spark.sql("select * from t_m4_stream").collect()
    }
    assert got == batch and len(batch) > 100


def test_streaming_checkpoint_resume_processes_only_new_files(
    spark, tmp_path, sf_small
):
    """Restart semantics (the reference's manual offset commits,
    server.go:222-258): a stopped query restarted on the same
    checkpoint must pick up exactly the files added while it was down —
    nothing reprocessed, nothing lost."""
    from pyspark.sql import functions as F

    from monasca_aggregator_spark.sources.tables import load_table

    src = tmp_path / "src"
    out = tmp_path / "out"
    ckpt = str(tmp_path / "ckpt")
    events = load_table(spark, sf_small, "events").select(
        "event_id", "event_type", "value"
    )
    h1 = events.filter("event_id % 2 = 0")
    h2 = events.filter("event_id % 2 = 1")
    n1, n2 = h1.count(), h2.count()
    h1.coalesce(1).write.mode("append").parquet(str(src))

    def run():
        stream = (
            spark.readStream.schema(events.schema)
            .format("parquet")
            .load(str(src))
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sum(p["numInputRows"] for p in q.recentProgress)

    assert run() == n1
    h2.coalesce(1).write.mode("append").parquet(str(src))
    assert run() == n2  # ONLY the new file — offsets survived the stop
    final = spark.read.parquet(str(out))
    assert final.count() == n1 + n2
    assert final.select(F.count_distinct("event_id")).collect()[0][0] == n1 + n2


def test_wallclock_heartbeat_finalizes_idle_stream(spark, tmp_path):
    """A QUIET topic must still publish its last windows: the reference
    fires on a wall-clock ticker at windowLag past close
    (server.go:213-296), but a bare watermark only advances on new
    data, so without help the final windows hang forever. The
    rate-source heartbeat (with_wallclock_heartbeat) carries wall-clock
    event time past them. Events here sit minutes in the past; ONE
    file, then silence — only the heartbeat can finalize them."""
    import json as _json
    import time as _time

    from monasca_aggregator_spark.sources.envelope import read_envelope_json
    from monasca_aggregator_spark.operators.aggregate import (
        with_wallclock_heartbeat,
    )

    def envelope(name, ts_ms, value):
        return _json.dumps(
            {
                "metric": {
                    "name": name,
                    "dimensions": {"host": "h"},
                    "timestamp": float(ts_ms),
                    "value": value,
                    "value_meta": {},
                },
                "meta": {"tenantId": "t0"},
                "creation_time": 0,
            }
        )

    src = tmp_path / "hb_src"
    src.mkdir()
    now_ms = int(_time.time() * 1000)
    # two windows, both already closed in wall-clock terms (3+ minutes
    # old), no future event will ever arrive to push the watermark
    base = now_ms - 200_000
    (src / "only.jsonl").write_text(
        "\n".join(
            [
                envelope("click", base, 1.0),
                envelope("click", base + 1_000, 2.0),
                envelope("click", base + 61_000, 5.0),
            ]
        )
    )
    env = with_wallclock_heartbeat(
        read_envelope_json(spark, str(src), streaming=True), spark
    )
    # a rollup rule runs beside the plain one on the same source: its
    # second stage must finalize on the heartbeat too
    queries = [
        build_aggregation(env, spec, 60, 30)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="1 second")
        .option("checkpointLocation", str(tmp_path / name))
        .start()
        for name, spec in (("hb_test", SPEC_HB), ("hb_rollup", SPEC_HB_ROLLUP))
    ]
    try:
        deadline = _time.time() + 90
        rows = {}
        while _time.time() < deadline:
            rows = {
                name: spark.table(name).collect()
                for name in ("hb_test", "hb_rollup")
            }
            if all(len(r) >= 2 for r in rows.values()):
                break
            _time.sleep(2)
        # both windows published despite the stream being idle; values
        # prove heartbeat rows contributed nothing to the aggregates
        assert sorted(r.value for r in rows["hb_test"]) == [3.0, 5.0]
        assert sorted(r.value for r in rows["hb_rollup"]) == [2.0, 5.0]
    finally:
        for q in queries:
            q.stop()


SPEC_HB = AggregationSpec(
    name="hb",
    aggregated_metric_name="agg.click.sum.hb",
    filtered_metric_name="click",
    function="sum",
    grouped_dimensions=(),
)

SPEC_HB_ROLLUP = AggregationSpec(
    name="hb_rollup",
    aggregated_metric_name="agg.click.max.sum.hb",
    filtered_metric_name="click",
    function="max",
    grouped_dimensions=("host",),
    rollup=Rollup(function="sum", grouped_dimensions=()),
)


def test_streaming_anomaly_zscore_flags_spike_not_baseline(spark, tmp_path):
    """Streaming z-score state op: a flat-ish series followed by a
    10x spike — the spike (scored against the baseline BEFORE it
    updates it) must flag, the baseline samples must not, and state
    must carry across micro-batches."""
    import time as _time

    from monasca_aggregator_spark.streaming.pipeline import (
        streaming_anomaly_zscore,
    )

    # 20 gently-noised baseline points, then the spike in a LATER batch
    base = [("t0", "cpu", 1_000 * (i + 1), 10.0 + (i % 3) * 0.5)
            for i in range(20)]
    batches = [base, [("t0", "cpu", 30_000, 100.0), ("t0", "cpu", 31_000, 10.5)]]
    src = tmp_path / "anom_src"
    src.mkdir()
    schema = "tenant_id string, name string, ts_ms long, value double"
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        _time.sleep(1.1)

    raw = (
        spark.readStream.schema(spark.read.parquet(str(src)).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withColumn("timestamp", F.timestamp_millis(F.col("ts_ms")))
    )
    out = streaming_anomaly_zscore(
        raw, alpha=0.2, min_samples=10, z_threshold=3.0
    )
    q = (
        out.writeStream.format("memory")
        .queryName("anom_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {r.ts_ms: r for r in spark.table("anom_out").collect()}
    assert len(rows) == 22
    # spike flagged with a large positive z (state carried from batch 1)
    assert rows[30_000].is_anomaly and rows[30_000].zscore > 3.0
    # baseline points and the post-spike normal sample do not flag
    assert not any(
        rows[ts].is_anomaly for ts in rows if ts != 30_000
    )


def test_curate_document_stream_dedups_and_gates_quality(spark, tmp_path):
    """Continuous ingestion curation: a cross-batch re-crawl (same
    normalized content, new id) is dropped by the watermarked
    fingerprint dedup, and low-quality docs never reach the sink."""
    import time as _time

    from monasca_aggregator_spark.streaming.pipeline import (
        curate_document_stream,
    )

    good = ("the quick brown fox and the lazy dog run over the hill "
            "with a friend of the family on a bright morning walk")
    junk = "zz zz zz"
    # 5 = the SAME content as doc 1 wrapped in HTML chrome: stage 0
    # extracts the main text, so the fingerprint dedup must catch it
    # (the fingerprint hashes the EXTRACTED text, like the batch
    # pipeline); 6 = all-chrome page, drops at extraction
    html_recrawl = (
        '<html><body><nav><a href="/">Home</a> <a href="/d">Docs</a>'
        f'</nav><article><p>{good}</p></article>'
        '<footer><a href="/tos">Terms of Service</a> '
        '<a href="/privacy">Privacy Policy</a></footer></body></html>'
    )
    all_chrome = (
        '<html><body><nav><a href="/">Home</a> <a href="/d">Docs</a>'
        '</nav><footer><a href="/tos">Terms of Service</a> '
        '<a href="/privacy">Privacy Policy</a></footer></body></html>'
    )
    batches = [
        [(1, good, 1_000), (2, junk, 2_000)],
        # 3 = re-crawl of doc 1 (case/spacing differs, same normalized
        # content); 4 = genuinely new good doc
        [(3, good.upper() + "  ", 60_000),
         (4, good + " plus fresh words here", 61_000),
         (5, html_recrawl, 62_000), (6, all_chrome, 63_000)],
    ]
    src = tmp_path / "cur_src"
    src.mkdir()
    schema = "doc_id long, text string, ts_ms long"
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        _time.sleep(1.1)

    raw = (
        spark.readStream.schema(spark.read.parquet(str(src)).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withColumn("ingest_ts", F.timestamp_millis(F.col("ts_ms")))
    )
    out = curate_document_stream(raw, dedup_within="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("curate_stream_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "cur_ckpt"))
        .start()
    )
    q.awaitTermination()
    got = {r.doc_id for r in spark.table("curate_stream_out").collect()}
    # 1 good kept; 2 junk gated; 3 re-crawl deduped ACROSS batches;
    # 4 kept; 5 HTML re-crawl extracted then fingerprint-deduped
    # against doc 1; 6 all-chrome page dropped at extraction
    assert got == {1, 4}


def test_streaming_tdigest_tracks_quantile_across_batches(spark, tmp_path):
    """Per-key t-digest state: two micro-batches of 1000 uniform
    samples each — after the second batch the running p95 must sit
    within t-digest rank error of the exact p95 over BOTH batches
    (state carried, not reset), with bounded centroid state."""
    import time as _time

    import numpy as np

    from monasca_aggregator_spark.streaming.pipeline import (
        streaming_tdigest_quantile,
    )

    rng = np.random.default_rng(3)
    all_vals = []
    src = tmp_path / "td_src"
    src.mkdir()
    for b in range(2):
        vals = rng.uniform(0, 1000, 1000)
        all_vals.extend(vals.tolist())
        rows = [("t0", "lat", float(v)) for v in vals]
        spark.createDataFrame(
            rows, "tenant_id string, name string, value double"
        ).coalesce(1).write.mode("append").parquet(str(src))
        _time.sleep(1.1)

    raw = (
        spark.readStream.schema(spark.read.parquet(str(src)).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = streaming_tdigest_quantile(raw, q=0.95)
    q = (
        out.writeStream.format("memory")
        .queryName("td_stream_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "td_ckpt"))
        .start()
    )
    q.awaitTermination()
    rows = sorted(
        spark.table("td_stream_out").collect(), key=lambda r: r.n
    )
    # one emission per micro-batch; the last covers all 2000 samples
    assert rows[-1].n == 2000
    exact = float(np.quantile(np.asarray(all_vals), 0.95))
    # rank error << 1/delta=1%: allow 1.5% of the value range
    assert abs(rows[-1].quantile - exact) < 15.0


def test_stateful_tdigest_state_survives_query_restart(spark, tmp_path):
    """applyInPandasWithState recovery: run the streaming t-digest,
    STOP the query, append more data, start a NEW query on the same
    checkpoint — the digest must resume from the state store (final
    count covers both batches; quantile reflects the union), the
    custom-state analog of the offset-resume test."""
    import numpy as np

    from monasca_aggregator_spark.streaming.pipeline import (
        streaming_tdigest_quantile,
    )

    rng = np.random.default_rng(9)
    src = tmp_path / "tdr_src"
    src.mkdir()
    ckpt = str(tmp_path / "tdr_ckpt")

    out_dir = tmp_path / "tdr_out"

    def run_once(qname):
        # memory sink can't recover from a checkpoint; foreachBatch +
        # batch-keyed parquet is the restartable form
        raw = (
            spark.readStream.schema("tenant_id string, name string, value double")
            .parquet(str(src))
        )
        out = streaming_tdigest_quantile(raw, q=0.5)

        def sink(df, batch_id):
            df.write.mode("overwrite").parquet(
                str(out_dir / f"b{batch_id}")
            )

        q = (
            out.writeStream.foreachBatch(sink)
            .outputMode("update")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()
        import glob

        rows = []
        for d in glob.glob(str(out_dir / "b*")):
            rows.extend(spark.read.parquet(d).collect())
        return rows

    # batch 1: values around 100
    v1 = rng.normal(100, 5, 800)
    spark.createDataFrame(
        [("t0", "m", float(v)) for v in v1],
        "tenant_id string, name string, value double",
    ).coalesce(1).write.mode("append").parquet(str(src))
    first = run_once("tdr_a")
    assert max(r.n for r in first) == 800

    # batch 2 AFTER the stop: values around 300 — a resumed digest
    # lands between the modes; a reset one would sit near 300
    v2 = rng.normal(300, 5, 800)
    spark.createDataFrame(
        [("t0", "m", float(v)) for v in v2],
        "tenant_id string, name string, value double",
    ).coalesce(1).write.mode("append").parquet(str(src))
    second = run_once("tdr_b")
    final = max(second, key=lambda r: r.n)
    assert final.n == 1600  # old 800 restored + new 800
    exact = float(np.quantile(np.concatenate([v1, v2]), 0.5))
    assert abs(final.quantile - exact) < 25.0


def test_streaming_consistent_k_equals_batch(spark, tmp_path):
    """Min-wise sampling is mergeable, so the streaming fold must
    EQUAL the batch sample over the union — not approximately, row for
    row — however ingestion was micro-batched. Also replay-safe: batch
    2 re-contains some batch-1 rows and changes nothing beyond what
    the union implies."""
    import time as _time

    from monasca_aggregator_spark.streaming.pipeline import (
        streaming_consistent_k,
    )

    src = tmp_path / "ck_src"
    src.mkdir()
    rows1 = [(i, "click" if i % 2 else "view") for i in range(0, 400)]
    # overlap 300-399 replays batch-1 rows; 400-799 is new
    rows2 = [(i, "click" if i % 2 else "view") for i in range(300, 800)]
    for rows in (rows1, rows2):
        spark.createDataFrame(
            rows, "event_id long, event_type string"
        ).coalesce(1).write.mode("append").parquet(str(src))
        _time.sleep(1.1)

    raw = (
        spark.readStream.schema(spark.read.parquet(str(src)).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        streaming_consistent_k(raw, k=15)
        .writeStream.format("memory")
        .queryName("ck_stream_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck_ckpt"))
        .start()
    )
    q.awaitTermination()

    # last emission per key = the streaming sample after both batches
    from pyspark.sql import functions as SF

    all_ids = {i for i, _ in rows1} | {i for i, _ in rows2}
    mult, mod = 2654435761, 2147483647
    for etype in ("click", "view"):
        want = sorted(
            ((i * mult) % mod, i)
            for i in all_ids
            if (("click" if i % 2 else "view") == etype)
        )[:15]
        got_rows = (
            spark.table("ck_stream_out")
            .filter(SF.col("event_type") == etype)
            .collect()
        )
        # update mode appended one sample per micro-batch; the final
        # sample is the k smallest priorities seen in the table
        got = sorted({(r.priority, r.event_id) for r in got_rows})[:15]
        assert got == want


def test_streaming_heavy_hitters_bounds_and_guarantee(spark, tmp_path):
    """Space-Saving state across micro-batches: after a Zipf-ish
    replay in 2 batches, every emitted count must bound the exact
    count (count_lo ≤ true ≤ count_hi), and every token with true
    frequency > N/capacity must appear — state carried across batches
    (a per-batch sketch of batch 2 alone could not cover batch 1's
    mass)."""
    import time as _time
    from collections import Counter

    from monasca_aggregator_spark.streaming.pipeline import (
        streaming_heavy_hitters,
    )

    # skewed universe: token t_i has frequency ~ 600/i
    batches, truth = [], Counter()
    rows_all = []
    for b in range(2):
        rows = []
        for i in range(1, 60):
            for rep in range(600 // i if b == 0 else 300 // i):
                rows.append(("s", f"t{i:02d}"))
        batches.append(rows)
        truth.update(t for _, t in rows)
        rows_all.extend(rows)

    src = tmp_path / "hh_src"
    src.mkdir()
    for rows in batches:
        spark.createDataFrame(
            rows, "stream string, token string"
        ).coalesce(1).write.mode("append").parquet(str(src))
        _time.sleep(1.1)

    raw = (
        spark.readStream.schema(spark.read.parquet(str(src)).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        streaming_heavy_hitters(raw, capacity=40, k=10)
        .writeStream.format("memory")
        .queryName("hh_stream_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "hh_ckpt"))
        .start()
    )
    q.awaitTermination()

    n_total = len(rows_all)
    out = spark.table("hh_stream_out").collect()
    assert out
    # the final emission = rows whose count_hi reflects both batches:
    # take the max count_hi per token (update mode appends per batch)
    best: dict[str, tuple[int, int]] = {}
    for r in out:
        if r.token not in best or r.count_hi > best[r.token][0]:
            best[r.token] = (r.count_hi, r.count_lo)
    for tok, (hi, lo) in best.items():
        assert lo <= truth[tok] <= hi, (tok, lo, truth[tok], hi)
    # guarantee: the heaviest tokens (true freq > N/capacity) surfaced
    for tok, c in truth.items():
        if c > n_total / 40:
            assert tok in best, (tok, c)


def test_streaming_sliding_window_equals_batch(spark, sf_small):
    """Hopping windows (F.window size+slide) are algebraic, so the
    identical plan runs under Structured Streaming with a watermark:
    the streamed overlapping windows must equal the batch
    `agg_sliding` query's groups exactly."""
    from pyspark.sql import functions as F

    from monasca_aggregator_spark.plans.metrics import (
        _SLIDE_SEC,
        WINDOW_SEC,
        q_agg_sliding,
    )

    batch = {
        (r.window_ts_ms, r.user_id): (r.n, r.value)
        for r in q_agg_sliding(spark, sf_small).collect()
    }

    raw_schema = spark.read.parquet(f"{sf_small}/events.parquet").schema
    raw = (
        spark.readStream.schema(raw_schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_small)
    )
    if dict(raw.dtypes)["ts"] == "bigint":
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dict(raw.dtypes)["ts"] == "timestamp_ntz":
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    win = F.window(
        F.col("ts"), f"{WINDOW_SEC} seconds", f"{_SLIDE_SEC} seconds"
    )
    from monasca_aggregator_spark.functions.rounding import stable_round

    plan = (
        raw.filter(F.col("event_type") == "view")
        .withWatermark("ts", "120 seconds")
        .groupBy(win, F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            stable_round(F.avg("value"), 4).alias("value"),
        )
        .select(
            F.unix_millis(F.col("window.start")).alias("window_ts_ms"),
            "user_id",
            "n",
            "value",
        )
    )
    q = (
        plan.writeStream.format("memory")
        .queryName("t_slide_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.window_ts_ms, r.user_id): (r.n, r.value)
        for r in spark.table("t_slide_stream").collect()
    }
    assert got == batch


def test_streaming_cdc_latest_equals_batch(spark, tmp_path):
    """Any micro-batching of the same changelog must materialize the
    same final table as the batch CDC apply — including a late
    (out-of-order) update that must NOT displace a newer one, and a
    delete that tombstones its key."""
    import datetime as dt
    import time as _time

    from pyspark.sql import functions as SF

    from monasca_aggregator_spark.plans.advanced import q_cdc_apply_latest
    from monasca_aggregator_spark.streaming.pipeline import (
        streaming_cdc_latest,
    )

    t0 = dt.datetime(2024, 1, 1)

    def ev(eid, minute, uid, etype, val):
        return (eid, t0 + dt.timedelta(minutes=minute), uid, etype, val, "{}")

    batch1 = [
        ev(1, 0, 1, "signup", 1.0),
        ev(2, 5, 1, "purchase", 7.0),
        ev(3, 0, 2, "signup", 2.0),
        ev(4, 9, 2, "click", 4.0),
        ev(5, 0, 3, "signup", 3.0),
    ]
    batch2 = [
        ev(6, 3, 1, "view", 9.9),     # LATE: older than event 2 → no displace
        ev(7, 12, 2, "error", 0.0),   # delete user 2
        ev(8, 15, 3, "purchase", 8.0),
    ]
    src = tmp_path / "cdc_src"
    src.mkdir()
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    for rows in (batch1, batch2):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        _time.sleep(1.1)

    raw = (
        spark.readStream.schema(spark.read.parquet(str(src)).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        streaming_cdc_latest(raw)
        .writeStream.format("memory")
        .queryName("cdc_stream_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "cdc_ckpt"))
        .start()
    )
    q.awaitTermination()

    # final streamed state = last emission per key (max n_changes)
    emitted = spark.table("cdc_stream_out").collect()
    final = {}
    for r in emitted:
        if r.user_id not in final or r.n_changes > final[r.user_id].n_changes:
            final[r.user_id] = r
    stream_live = {
        u: (r.last_value, r.last_op, r.n_changes)
        for u, r in final.items()
        if r.last_op != "D"
    }

    # batch reference over the full log written as one table
    full = tmp_path / "cdc_full"
    full.mkdir()
    spark.createDataFrame(batch1 + batch2, schema).write.mode(
        "overwrite"
    ).parquet(str(full / "events.parquet"))
    batch = {
        r.user_id: (r.last_value, r.last_op, r.n_changes)
        for r in q_cdc_apply_latest(spark, str(full)).collect()
    }
    assert stream_live == batch
    assert batch[1] == (7.0, "U", 3)  # late view did not displace purchase
    assert 2 not in batch              # deleted
    assert batch[3] == (8.0, "U", 2)


def test_streaming_window_funnel_matches_batch(spark, tmp_path):
    """Streaming windowFunnel (O(k)-state applyInPandasWithState) must
    reach the SAME final depths as the batch operator on the same
    events, with chains crossing micro-batch boundaries and the
    window bound enforced (purchase beyond 6 h does NOT count)."""
    import time as _time

    from monasca_aggregator_spark.streaming.pipeline import (
        streaming_window_funnel,
    )

    H_US = 3_600 * 1_000_000
    # user 1: full chain, click+purchase in a LATER batch (state carry)
    # user 2: purchase outside the 6 h window from its only view → 2
    # user 3: only a click → depth 0 (no chain start)
    batches = [
        [(0, 0 * H_US, 1, "view"), (10, 0 * H_US, 2, "view"),
         (11, 1 * H_US, 2, "click"), (20, 1 * H_US, 3, "click")],
        [(1, 2 * H_US, 1, "click"), (2, 3 * H_US, 1, "purchase"),
         (12, 8 * H_US, 2, "purchase")],
    ]
    src = tmp_path / "funnel_src"
    src.mkdir()
    schema = "event_id long, ts_us long, user_id long, event_type string"
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        _time.sleep(1.1)

    raw = (
        spark.readStream.schema(spark.read.parquet(str(src)).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
    )
    out = streaming_window_funnel(raw)
    q = (
        out.writeStream.format("memory")
        .queryName("wf_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("wf_out").collect()
    # last update per user wins
    final = {}
    for r in rows:
        final[r.user_id] = max(final.get(r.user_id, 0), r.best_depth)
    assert final[1] == 3   # chain completed across batches
    assert final[2] == 2   # purchase missed the window
    assert final[3] == 0   # click without a view never starts a chain


def test_streaming_exact_dau_matches_batch(spark, tmp_path):
    """Streaming DAU (dropDuplicates → windowed count) equals the
    batch distinct count per day, including a duplicate user arriving
    again in a LATER micro-batch (dedup state must carry)."""
    import time as _time

    from monasca_aggregator_spark.streaming.pipeline import (
        streaming_daily_active_users,
    )

    DAY_US = 86_400 * 1_000_000
    # Base day well past epoch: ts == watermark-init (0) is treated as
    # late by the dedup state store, so epoch-day-0 data is degenerate.
    B = 19_723  # 2024-01-01
    batches = [
        [(0, B * DAY_US + 1, 1), (1, B * DAY_US + 2, 2),
         (2, (B + 1) * DAY_US + 5, 1)],
        # user 1 day 0 again (cross-batch dup) + new user day 1
        [(3, B * DAY_US + 9, 1), (4, (B + 1) * DAY_US + 9, 3)],
    ]
    src = tmp_path / "dau_src"
    src.mkdir()
    schema = "event_id long, ts_us long, user_id long"
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        _time.sleep(1.1)
    raw = (
        spark.readStream.schema(spark.read.parquet(str(src)).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
    )
    q = (
        streaming_daily_active_users(raw)
        .writeStream.format("memory")
        .queryName("dau_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = {}
    for r in spark.table("dau_out").collect():
        final[r.day_ms] = max(final.get(r.day_ms, 0), r.dau)
    assert final[B * 86_400_000] == 2         # users 1,2 — dup NOT recounted
    assert final[(B + 1) * 86_400_000] == 2   # users 1,3


def test_streaming_sessions_capped_matches_batch(spark, tmp_path):
    """Streaming capped sessionization finalizes exactly the batch
    query's sub-sessions (gap split + fixed-offset 24h cap split),
    minus each user's trailing still-open one, with sessions crossing
    micro-batch boundaries."""
    import time as _time

    from monasca_aggregator_spark.streaming.pipeline import (
        streaming_sessions_capped,
    )

    H_MS = 3_600 * 1000
    GAP, CAP = 12 * H_MS, 24 * H_MS
    base = 1_704_067_200_000  # 2024-01-01
    # user 1: events 10h apart — one gap-session spanning 40h →
    #   cap splits at +24h: sub0 = [0,10,20]h, sub1 = [30,40]h
    # user 2: every gap (20h, 24h) exceeds the 12h threshold → three
    #   single-event gap-sessions, the first two closed
    # user 3: single event (stays open, never emitted)
    rows = [
        (1, 0), (2, 0), (3, 5 * H_MS),
        (1, 10 * H_MS), (2, 20 * H_MS),
        (1, 20 * H_MS),
    ], [
        (1, 30 * H_MS), (1, 40 * H_MS),
        (2, 44 * H_MS),  # 24h after user2's last → new gap-session
        (1, 60 * H_MS),  # 20h gap > 12h → closes user1's sub1
    ]
    src = tmp_path / "sc_src"
    src.mkdir()
    schema = "user_id long, off_ms long"
    for i, batch in enumerate(rows):
        spark.createDataFrame(batch, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        _time.sleep(1.1)
    raw = (
        spark.readStream.schema(spark.read.parquet(str(src)).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withColumn("ts", F.timestamp_millis(F.col("off_ms") + base))
        .withColumn("event_id", F.col("off_ms"))
    )
    out = streaming_sessions_capped(raw, gap_ms=GAP, cap_ms=CAP)
    q = (
        out.writeStream.format("memory")
        .queryName("sc_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.session_start_ms - base, r.session_end_ms - base,
         r.n_events, r.from_cap_split)
        for r in spark.table("sc_out").collect()
    }
    expected = {
        # user1 sub0 closed by the cap crossing at 30h
        (1, 0, 20 * H_MS, 3, False),
        # user1 sub1 (cap split) closed by the 20h gap before 60h
        (1, 30 * H_MS, 40 * H_MS, 2, True),
        # user2: single-event sessions closed by each following gap
        (2, 0, 0, 1, False),
        (2, 20 * H_MS, 20 * H_MS, 1, False),
        # open: user1@60h, user2@44h, user3 — never emitted
    }
    assert got == expected


def test_streaming_sessions_capped_idle_timeout_finalizes(spark, tmp_path):
    """close_on_idle_ms: a key idle past the threshold has its trailing
    sub-session finalized by the state timeout when a LATER micro-batch
    (any key's data) processes — the state-store-native form of the
    reference's wall-clock publication for quiet streams."""
    import time as _time

    from monasca_aggregator_spark.streaming.pipeline import (
        streaming_sessions_capped,
    )

    H_MS = 3_600 * 1000
    base = 1_704_067_200_000
    src = tmp_path / "idle_src"
    src.mkdir()
    schema = "user_id long, off_ms long"
    # batch 1: user 1 has a 2-event open session; nothing closes it
    spark.createDataFrame(
        [(1, 0), (1, 1 * H_MS)], schema
    ).coalesce(1).write.mode("append").parquet(str(src))
    raw = (
        spark.readStream.schema(spark.read.parquet(str(src)).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withColumn("ts", F.timestamp_millis(F.col("off_ms") + base))
        .withColumn("event_id", F.col("off_ms"))
    )
    out = streaming_sessions_capped(raw, close_on_idle_ms=1500)
    q = (
        out.writeStream.format("memory")
        .queryName("sc_idle")
        .outputMode("update")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        # wait until batch 1 has actually processed (under suite load
        # the first trigger can lag), then idle past the threshold
        deadline = _time.time() + 60
        while _time.time() < deadline:
            if q.lastProgress and q.lastProgress["numInputRows"] > 0:
                break
            _time.sleep(0.5)
        assert spark.table("sc_idle").count() == 0  # still open
        _time.sleep(2.5)  # idle past close_on_idle_ms=1500
        # unrelated key's data arrives → a new micro-batch runs →
        # user 1's expired timer fires and finalizes the session
        spark.createDataFrame(
            [(99, 50 * H_MS)], schema
        ).coalesce(1).write.mode("append").parquet(str(src))
        deadline = _time.time() + 60
        while _time.time() < deadline:
            if spark.table("sc_idle").count() >= 1:
                break
            _time.sleep(0.5)
    finally:
        q.stop()
        q.awaitTermination(30)
    rows = {
        (r.user_id, r.session_start_ms - base, r.session_end_ms - base,
         r.n_events, r.from_cap_split)
        for r in spark.table("sc_idle").collect()
    }
    assert (1, 0, 1 * H_MS, 2, False) in rows


def test_stream_stream_left_outer_join_emits_unmatched_after_watermark(
    spark, tmp_path
):
    """LEFT OUTER stream-stream interval join: matched pairs emit like
    the inner join; a click with NO purchase in its interval emits
    once with a NULL-padded right side — after the watermark passes
    its match window (a far-future right-side event pushes the
    watermark so the no-data finalization batch can evict and emit)."""
    import json as _json

    from monasca_aggregator_spark.streaming.pipeline import (
        stream_stream_interval_join,
    )

    BASE = 86_400.0

    def ev(user, ts_s):
        return _json.dumps({"user_id": user, "ts_s": BASE + ts_s})

    clicks_dir = tmp_path / "clicks"
    buys_dir = tmp_path / "buys"
    clicks_dir.mkdir()
    buys_dir.mkdir()
    # yy/zz exist only to push BOTH streams' watermarks past u2's
    # match interval: the join's effective watermark is the MIN across
    # inputs, so the clicks side must advance too (100 + 1800 <
    # 10000 - 60); yy never emits (its own interval stays open), zz's
    # buy has no click to pair with
    (clicks_dir / "c.jsonl").write_text(
        "\n".join([ev("u1", 0.0), ev("u2", 100.0), ev("yy", 10000.0)])
    )
    (buys_dir / "b.jsonl").write_text(
        "\n".join([ev("u1", 1000.0), ev("zz", 10000.0)])
    )

    def _src(path, ts_name):
        return (
            spark.readStream.schema("user_id string, ts_s double")
            .json(str(path))
            .withColumn(ts_name, F.timestamp_seconds(F.col("ts_s")))
            .drop("ts_s")
        )

    joined = stream_stream_interval_join(
        _src(clicks_dir, "click_ts"),
        _src(buys_dir, "buy_ts"),
        keys=("user_id",),
        left_ts="click_ts",
        right_ts="buy_ts",
        within="30 minutes",
        watermark="1 minute",
        how="left_outer",
    ).select(
        F.col("l.user_id").alias("user_id"),
        F.unix_seconds("click_ts").alias("click_s"),
        F.unix_seconds("buy_ts").alias("buy_s"),
    )
    out_dir = str(tmp_path / "ssj_outer_out")

    def run_once():
        q = (
            joined.writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ssj_outer_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    # outer-join eviction happens in a batch that BEGINS with the
    # advanced watermark; availableNow stops once data is drained, so
    # a second run (new file keeps the source non-empty) performs the
    # eviction batch — the same "outer results trail by one trigger"
    # delay the Structured Streaming guide documents
    (buys_dir / "b2.jsonl").write_text(ev("zz", 10001.0))
    run_once()
    got = {
        (
            r.user_id,
            r.click_s - BASE,
            (r.buy_s - BASE) if r.buy_s is not None else None,
        )
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got == {("u1", 0, 1000), ("u2", 100, None)}


def test_stream_stream_full_outer_join_emits_both_sides(spark, tmp_path):
    """FULL OUTER stream-stream interval join (r8): matched pairs emit
    like the inner join; an unmatched CLICK emits NULL-padded right
    once the watermark passes its match interval, and an unmatched
    BUY emits NULL-padded left once the watermark passes its own
    timestamp — the two anti-join legs of the funnel ('clicks that
    never converted' AND 'purchases with no attributable click') as
    ONE streaming join. Same state-bounding contract as the
    inner/left_outer forms (stream_stream_interval_join how=)."""
    import json as _json

    from monasca_aggregator_spark.streaming.pipeline import (
        stream_stream_interval_join,
    )

    BASE = 86_400.0

    def ev(user, ts_s):
        return _json.dumps({"user_id": user, "ts_s": BASE + ts_s})

    clicks_dir = tmp_path / "clicks"
    buys_dir = tmp_path / "buys"
    clicks_dir.mkdir()
    buys_dir.mkdir()
    (clicks_dir / "c.jsonl").write_text(
        "\n".join([ev("u1", 0.0), ev("u2", 100.0)])
    )
    (buys_dir / "b.jsonl").write_text(
        "\n".join([ev("u1", 1000.0), ev("zz", 2000.0)])
    )

    def _src(path, ts_name):
        return (
            spark.readStream.schema("user_id string, ts_s double")
            .json(str(path))
            .withColumn(ts_name, F.timestamp_seconds(F.col("ts_s")))
            .drop("ts_s")
        )

    joined = stream_stream_interval_join(
        _src(clicks_dir, "click_ts"),
        _src(buys_dir, "buy_ts"),
        keys=("user_id",),
        left_ts="click_ts",
        right_ts="buy_ts",
        within="30 minutes",
        watermark="1 minute",
        how="full_outer",
    ).select(
        F.coalesce(F.col("l.user_id"), F.col("r.user_id")).alias("user_id"),
        F.unix_seconds("click_ts").alias("click_s"),
        F.unix_seconds("buy_ts").alias("buy_s"),
    )
    out_dir = str(tmp_path / "ssj_full_out")

    def run_once():
        q = (
            joined.writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ssj_full_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    # advance BOTH watermarks well past every interval above, then run
    # again so the no-data finalization batch evicts + emits the
    # unmatched rows on both sides (outer results trail by a trigger —
    # the documented Structured Streaming behavior); the 13000s pusher
    # rows themselves stay open and must NOT appear
    (clicks_dir / "c2.jsonl").write_text(ev("pp", 13000.0))
    (buys_dir / "b2.jsonl").write_text(ev("qq", 13000.0))
    run_once()
    (clicks_dir / "c3.jsonl").write_text(ev("pp", 13001.0))
    (buys_dir / "b3.jsonl").write_text(ev("qq", 13001.0))
    run_once()
    got = {
        (
            r.user_id,
            (r.click_s - BASE) if r.click_s is not None else None,
            (r.buy_s - BASE) if r.buy_s is not None else None,
        )
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got == {
        ("u1", 0, 1000),
        ("u2", 100, None),
        ("zz", None, 2000),
    }


def test_streaming_native_histogram_equals_batch(spark, sf_small):
    """The exponential-bucket (Prometheus native) histogram is a plain
    count per (metric, window, bucket) — algebraic, so the identical
    bucket expression runs under Structured Streaming with a
    watermark and must reproduce the batch query's buckets exactly."""
    from pyspark.sql import functions as F

    from monasca_aggregator_spark.plans.temporal import (
        _HOUR_MS,
        _NH_SCHEMA,
        q_metric_histogram_native,
    )

    batch = {
        (r.event_type, r.window_ts_ms, r.bucket): (r.n, r.le)
        for r in q_metric_histogram_native(spark, sf_small).collect()
    }

    raw_schema = spark.read.parquet(f"{sf_small}/events.parquet").schema
    raw = (
        spark.readStream.schema(raw_schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_small)
    )
    if dict(raw.dtypes)["ts"] == "bigint":
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dict(raw.dtypes)["ts"] == "timestamp_ntz":
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    wcol = (
        (F.unix_millis(F.col("ts")) / F.lit(_HOUR_MS)).cast("long")
        * F.lit(_HOUR_MS)
    )
    scale = F.lit(float(2**_NH_SCHEMA))
    k = F.when(
        F.col("value") > 0,
        F.ceil(F.log2(F.col("value")) * scale).cast("long"),
    )
    plan = (
        raw.withWatermark("ts", "120 seconds")
        .groupBy(
            F.col("event_type"),
            wcol.alias("window_ts_ms"),
            k.alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        plan.writeStream.format("memory")
        .queryName("t_nh_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.event_type, r.window_ts_ms, r.bucket): r.n
        for r in spark.sql("select * from t_nh_stream").collect()
    }
    assert len(batch) > 100
    assert got == {key: v[0] for key, v in batch.items()}


def test_curate_document_stream_url_gates(spark, tmp_path):
    """Streaming URL entry stages (r8 cont.): the blocklist/TLD gate
    drops rows BEFORE extraction with zero state, and canonical-URL
    dedup collapses a tracking-param re-crawl inside the watermark
    window — the content stages never even see it."""
    import time as _time

    from monasca_aggregator_spark.streaming.pipeline import (
        curate_document_stream,
    )

    good = ("the quick brown fox and the lazy dog run over the hill "
            "with a friend of the family on a bright morning walk")
    other = ("completely different clean sentence about gardens "
             "rivers mountains and the weather patterns of autumn")
    batches = [
        [(1, good, 1_000, "https://news.example.com/p/7"),
         (2, good + " two", 2_000, "https://tracker-ads.example/x"),
         (3, good + " three", 3_000, "https://freebies.xyz/y")],
        # 4 = canonical re-crawl of doc 1's URL (www + query variant,
        # DIFFERENT text so the content fingerprint alone would keep
        # it); 5 = genuinely new page; 6 = UPPERCASE-scheme re-crawl
        # of 5 (VERDICT r8: used to canonicalize to the '' key);
        # 7 = new page under an uppercase scheme — must SURVIVE the
        # gate (used to be a silent bad_url drop)
        [(4, good + " drifted re-crawl text", 60_000,
          "https://WWW.news.example.com/p/7?utm_source=x"),
         (5, other, 61_000, "https://news.example.com/p/8")],
        # third batch, so 5 is already in dedup state before 6 probes
        [(6, other + " re-crawl drift", 62_000,
          "HTTPS://news.example.com/p/8"),
         (7, "a third clean readable sentence about the seasons "
             "of the year and the long slow turning of the stars",
          63_000, "HTTP://blog.example.org/q/1")],
    ]
    src = tmp_path / "cur_url_src"
    src.mkdir()
    schema = "doc_id long, text string, ts_ms long, url string"
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        _time.sleep(1.1)

    raw = (
        spark.readStream.schema(spark.read.parquet(str(src)).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withColumn("ingest_ts", F.timestamp_millis(F.col("ts_ms")))
    )
    out = curate_document_stream(
        raw,
        dedup_within="1 hour",
        url_col="url",
        url_blocklist=("tracker-ads.example",),
        url_dedup=True,
    )
    q = (
        out.writeStream.format("memory")
        .queryName("curate_url_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    ids = sorted(
        r.doc_id
        for r in spark.sql("SELECT doc_id FROM curate_url_out").collect()
    )
    # 2 blocklist, 3 bad TLD, 4 canonical-URL re-crawl of 1,
    # 6 uppercase-scheme re-crawl of 5 → dropped; 7 (uppercase
    # scheme, new page) survives
    assert ids == [1, 5, 7]


def test_curate_document_stream_strips_boilerplate_lines(
    spark, tmp_path
):
    """Streaming line-level boilerplate removal (r9): known repeated
    lines (batch-computed by line_dedup_rewrite) strip row-locally
    with zero state, BEFORE the content fingerprint — so two pages
    that differ only in shared chrome dedup as the same content."""
    import time as _time

    from monasca_aggregator_spark.streaming.pipeline import (
        curate_document_stream,
    )

    footer = "this site uses cookies to improve your experience"
    good = ("the quick brown fox and the lazy dog run over the hill "
            "with a friend of the family on a bright morning walk")
    other = ("completely different clean sentence about gardens "
             "rivers mountains and the weather patterns of autumn")
    batches = [
        [(1, good + "\n" + footer, 1_000),
         (2, other + "\n  " + footer + "  ", 2_000)],
        # 3 = same content as 1 but WITHOUT the footer: must dedup
        # against 1 (whose fingerprint hashed the stripped text)
        [(3, good, 60_000),
         (4, other + " and a genuinely new closing thought", 61_000)],
    ]
    src = tmp_path / "cur_boiler_src"
    src.mkdir()
    schema = "doc_id long, text string, ts_ms long"
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        _time.sleep(1.1)

    raw = (
        spark.readStream.schema(spark.read.parquet(str(src)).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withColumn("ingest_ts", F.timestamp_millis(F.col("ts_ms")))
    )
    out = curate_document_stream(
        raw, dedup_within="1 hour", boilerplate_lines=(footer,)
    )
    q = (
        out.writeStream.format("memory")
        .queryName("curate_boiler_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r.doc_id: r.text
        for r in spark.sql(
            "SELECT doc_id, text FROM curate_boiler_out"
        ).collect()
    }
    # 3 deduped against 1 (stripped fingerprints match); 1/2/4 kept
    # with their boilerplate line gone (trim-variant too)
    assert sorted(got) == [1, 2, 4]
    assert got[1] == good
    assert got[2] == other


def test_streaming_psi_drift_matches_closed_form(spark, tmp_path):
    """Streaming PSI drift (r9): a live window drawn from the
    reference distribution scores stable (<0.1); a shifted window
    trips the 0.25 drift flag; and the streamed PSI equals the
    closed-form recomputation from the collected reference — the
    streaming ≡ batch pin."""
    import math
    import time as _time

    from monasca_aggregator_spark.streaming.pipeline import (
        psi_reference,
        streaming_psi_drift,
    )

    ref_rows = [("m", (i % 100) / 10.0) for i in range(1000)]
    ref = psi_reference(
        spark.createDataFrame(ref_rows, "event_type string, value double")
    )
    # window A (hour 0): same distribution; window B (hour 1): +5 shift
    batches = [
        [("m", (i % 100) / 10.0, 1_000 + i) for i in range(500)],
        [("m", (i % 100) / 10.0 + 5.0, 3_600_000 + i) for i in range(500)],
        # flush: advances the watermark past both windows so append
        # mode emits them; its own (hour-3) window stays open and
        # must NOT appear in the output
        [("m", 1.0, 3 * 3_600_000)],
    ]
    src = tmp_path / "psi_src"
    src.mkdir()
    schema = "event_type string, value double, ts_ms long"
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        _time.sleep(1.1)
    raw = (
        spark.readStream.schema(spark.read.parquet(str(src)).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withColumn("ingest_ts", F.timestamp_millis(F.col("ts_ms")))
    )
    out = streaming_psi_drift(raw, ref)
    q = (
        out.writeStream.format("memory")
        .queryName("psi_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r.window_start.minute + r.window_start.hour * 60: r
        for r in spark.sql("SELECT * FROM psi_out").collect()
    }
    assert len(got) == 2  # the open flush window is absent
    a = min(got)
    b = max(got)
    assert got[a].psi < 0.1 and not got[a].drifted
    assert got[b].psi > 0.25 and got[b].drifted
    # closed-form recomputation from the collected reference
    r = ref.collect()[0]
    edges, qshare = list(r.edges), list(r.q)
    for key, rows in ((a, batches[0]), (b, batches[1])):
        counts = [0] * 10
        for _, v, _ in rows:
            e2 = math.floor(v * 100 + 0.5)
            counts[sum(1 for e in edges if e < e2)] += 1
        n = len(rows)
        psi = sum(
            ((c + 1) / (n + 10) - qs)
            * math.log(((c + 1) / (n + 10)) / qs)
            for c, qs in zip(counts, qshare)
        )
        assert abs(got[key].psi - round(psi, 6)) < 1e-9, (
            key, got[key].psi, psi,
        )


def test_streaming_counter_increase_equals_batch(spark, tmp_path):
    """Streaming reset-aware counter increase (r9) ≡ the batch
    metric_counter_rate on the same data: per-key last-value state
    carries deltas ACROSS micro-batch boundaries, resets count once,
    and the summed streaming output matches the batch operator's
    per-(metric, hour) totals exactly."""
    import time as _time

    import monasca_aggregator_spark.plans.series as S
    from monasca_aggregator_spark.streaming.pipeline import (
        streaming_counter_increase,
    )

    h = 3_600_000
    rows = [
        # (user, ts_ms, value): u1 counts up, resets mid-hour-2
        (1, 1_000, 10.0), (1, 2_000, 15.5), (1, h + 1_000, 20.0),
        (1, h + 2_000, 3.0), (1, h + 3_000, 9.0),
        # u2: monotone across the batch boundary
        (2, 5_000, 100.0), (2, h + 5_000, 130.0),
    ]
    batches = [rows[:4], rows[4:]]
    src = tmp_path / "ctr_src"
    src.mkdir()
    schema = "user_id long, ts_ms long, value double"
    for b in batches:
        spark.createDataFrame(b, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        _time.sleep(1.1)
    raw = (
        spark.readStream.schema(spark.read.parquet(str(src)).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .select(
            F.lit("cpu").alias("event_type"),
            "user_id",
            F.timestamp_millis(F.col("ts_ms")).alias("ts"),
            "value",
        )
    )
    out = streaming_counter_increase(
        raw,
        key_cols=("event_type", "user_id"),
        ts_col="ts",
        value_col="value",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("ctr_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.event_type, r.window_ts_ms): (r.inc, r.resets)
        for r in spark.sql(
            "SELECT event_type, window_ts_ms,"
            " CAST(sum(increase_e6) AS DOUBLE) / 1e6 AS inc,"
            " sum(n_resets) AS resets"
            " FROM ctr_out GROUP BY 1, 2"
        ).collect()
    }
    # batch operator on the identical relation
    df = spark.createDataFrame(
        [(1000 + i, u, t, v) for i, (u, t, v) in enumerate(rows)],
        "event_id long, user_id long, ts_ms long, value double",
    ).select(
        "event_id",
        F.lit("cpu").alias("event_type"),
        "user_id",
        F.timestamp_millis(F.col("ts_ms")).alias("ts"),
        "value",
    )
    import pytest as _pytest

    mp = _pytest.MonkeyPatch()
    mp.setattr(S, "load_table", lambda spark, sf_dir, name, **kw: df)
    try:
        batch = {
            ("cpu", r.window_ts_ms): (r.increase, r.n_resets)
            for r in S.q_metric_counter_rate(spark, "ignored").collect()
        }
    finally:
        mp.undo()
    assert got == batch, (got, batch)
    # the hour-2 window carries u1's reset exactly once
    assert got[("cpu", h)][1] == 1


def test_streaming_page_hinkley_detects_mean_shift(spark, tmp_path):
    """Page-Hinkley drift (r9): a flat series with a +10 mean shift
    mid-stream fires exactly one UP detection shortly after the
    shift (none before it, none on the stable key), and the state
    reset re-arms for a later DOWN shift."""
    import time as _time

    from monasca_aggregator_spark.streaming.pipeline import (
        streaming_page_hinkley,
    )

    def seg(key, start_i, n, level):
        return [
            (key, 1_000_000 + (start_i + i) * 1000,
             level + (0.2 if (start_i + i) % 2 else -0.2))
            for i in range(n)
        ]

    batches = [
        seg("m", 0, 60, 10.0) + seg("stable", 0, 60, 5.0),
        seg("m", 60, 60, 20.0) + seg("stable", 60, 60, 5.0),
        seg("m", 120, 60, 4.0) + seg("stable", 120, 60, 5.0),
    ]
    src = tmp_path / "ph_src"
    src.mkdir()
    schema = "name string, ts_ms long, value double"
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        _time.sleep(1.1)
    raw = (
        spark.readStream.schema(spark.read.parquet(str(src)).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .select(
            F.lit("t0").alias("tenant_id"),
            "name",
            F.timestamp_millis(F.col("ts_ms")).alias("timestamp"),
            "value",
        )
    )
    out = streaming_page_hinkley(raw, lam=50.0, min_samples=20)
    q = (
        out.writeStream.format("memory")
        .queryName("ph_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql(
        "SELECT name, ts_ms, direction FROM ph_out ORDER BY ts_ms"
    ).collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r.name, []).append(r)
    assert "stable" not in by_key  # flat key never fires
    dets = by_key["m"]
    assert [d.direction for d in dets] == ["up", "down"]
    # the UP detection lands inside the shifted segment, the DOWN
    # inside the dropped one — never before the change point
    assert 1_000_000 + 60_000 <= dets[0].ts_ms < 1_000_000 + 120_000
    assert dets[1].ts_ms >= 1_000_000 + 120_000


def test_streaming_bot_burst_matches_batch_rule(spark, tmp_path):
    """Streaming bot-burst (r10) ≡ the batch events_bot_detection
    burst rule on the same data: the bursty user's closed minute
    emits exactly one append-mode alert; the slow user emits none. A
    late sentinel event advances the watermark so the burst minute
    closes under availableNow."""
    import time as _time

    from monasca_aggregator_spark.streaming.pipeline import (
        streaming_bot_burst,
    )

    rows = [(1, 30_000 + i * 1_000) for i in range(10)]  # 10 in 1 min
    rows += [(2, i * 60_000) for i in range(10)]  # 1/min — never bursts
    sentinel = [(3, 3_600_000)]  # far future: closes every window
    src = tmp_path / "bot_src"
    src.mkdir()
    schema = "user_id long, ts_ms long"
    for b in (rows, sentinel):
        spark.createDataFrame(b, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        _time.sleep(1.1)
    raw = (
        spark.readStream.schema(spark.read.parquet(str(src)).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .select(
            "user_id", F.timestamp_millis(F.col("ts_ms")).alias("ts")
        )
    )
    q = (
        streaming_bot_burst(raw)
        .writeStream.format("memory")
        .queryName("bot_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = [
        (r.user_id, r.n_events, r.bot_flag)
        for r in spark.sql(
            "SELECT * FROM bot_out ORDER BY user_id"
        ).collect()
    ]
    assert got == [(1, 10, True)]


def test_streaming_staleness_pages_silent_series(spark, tmp_path):
    """streaming_staleness (r11): a metric that keeps reporting emits
    fresh rows; a metric that goes SILENT gets an event-time-timeout
    stale row once the watermark passes last_ts + stale_after — the
    paging behavior the batch metric_staleness row can't provide.
    Data-path staleness arithmetic (watermark − last_ts) matches the
    batch definition (frontier − last_ts) by construction."""
    import time as _time

    from monasca_aggregator_spark.streaming.pipeline import (
        streaming_staleness,
    )

    m = 60_000
    # batch 1: A and B both report in minute 0-1 (ts kept off the
    # epoch: a 0-ms event sits ON the initial watermark boundary and
    # is dropped as late by the stateful operator)
    b1 = [("A", (i + 1) * 10_000) for i in range(6)]
    b1 += [("B", (i + 1) * 10_000) for i in range(6)]
    # batch 2: only A, one hour later — advances the watermark far past
    # B.last + stale_after
    b2 = [("A", 60 * m)]
    # batch 3: sentinel A even later — the batch whose watermark
    # (from b2's data) fires B's timeout
    b3 = [("A", 120 * m)]
    src = tmp_path / "stale_src"
    src.mkdir()
    schema = "event_type string, ts_ms long"
    for b in (b1, b2, b3):
        spark.createDataFrame(b, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        _time.sleep(1.1)
    raw = (
        spark.readStream.schema(spark.read.parquet(str(src)).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .select(
            "event_type",
            F.timestamp_millis(F.col("ts_ms")).alias("ts"),
        )
    )
    q = (
        streaming_staleness(raw, stale_after_ms=5 * m)
        .writeStream.format("memory")
        .queryName("stale_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM stale_out").collect()
    # A reported in every batch: its rows are all data-path rows
    a_rows = [r for r in rows if r.event_type == "A"]
    assert a_rows and all(not r.via_timeout for r in a_rows)
    assert max(r.n_samples for r in a_rows) == 8
    # B went silent: exactly its timeout row(s) page it as stale
    b_timeouts = [
        r for r in rows if r.event_type == "B" and r.via_timeout
    ]
    assert b_timeouts, f"no timeout row for B in {rows}"
    for r in b_timeouts:
        assert r.is_stale
        assert r.n_samples == 6
        assert r.last_ts_ms == 60_000
        # staleness = watermark − last_ts, exactly
        assert r.staleness_ms == r.watermark_ms - r.last_ts_ms
        assert r.staleness_ms >= 5 * m
    # B's data-path row (batch 1, watermark still 0) was fresh
    b_data = [
        r for r in rows if r.event_type == "B" and not r.via_timeout
    ]
    assert all(not r.is_stale for r in b_data)
