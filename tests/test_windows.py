"""Epoch-aligned tumbling window math
(reference semantics: aggregation/aggregation_rule.go:52,76)."""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import functions as F

from monasca_aggregator_spark.functions.windows import (
    window_id,
    window_start_ms,
)


def _one(spark, ts: datetime, size: int, expr_fn):
    df = spark.createDataFrame([(ts,)], "ts timestamp")
    return df.select(expr_fn(F.col("ts"), size).alias("v")).collect()[0].v


def test_window_start_alignment(spark):
    ts = datetime(2024, 1, 2, 10, 59, 59, tzinfo=timezone.utc)
    start = _one(spark, ts, 3600, window_start_ms)
    expected = datetime(2024, 1, 2, 10, 0, 0, tzinfo=timezone.utc)
    assert start == int(expected.timestamp() * 1000)


def test_window_boundary_is_inclusive_start(spark):
    # an event exactly on the boundary belongs to the window it starts
    ts = datetime(2024, 1, 2, 11, 0, 0, tzinfo=timezone.utc)
    start = _one(spark, ts, 3600, window_start_ms)
    assert start == int(ts.timestamp() * 1000)


def test_window_id_matches_reference_formula(spark):
    # reference: floor(timestamp_ms / (1000 * windowSize))
    ts = datetime(2024, 6, 15, 13, 37, 21, tzinfo=timezone.utc)
    for size in (60, 300, 3600):
        wid = _one(spark, ts, size, window_id)
        assert wid == int(ts.timestamp() * 1000) // (1000 * size)


def test_spark_tumbling_window_agrees(spark):
    """F.window (the window key of build_aggregation's one plan) and
    window_start_ms (the SQL renderer's and the catalog's integer
    window start) must bucket identically."""
    rows = [
        (datetime(2024, 3, 1, h, m, s, tzinfo=timezone.utc),)
        for h in (0, 7, 23)
        for m in (0, 30, 59)
        for s in (0, 1, 59)
    ]
    df = spark.createDataFrame(rows, "ts timestamp")
    both = df.select(
        window_start_ms(F.col("ts"), 3600).alias("batch_ms"),
        F.unix_millis(F.window(F.col("ts"), "3600 seconds").start).alias(
            "stream_ms"
        ),
    )
    assert both.filter(F.col("batch_ms") != F.col("stream_ms")).count() == 0


def test_user_event_seq_ordering_and_counts(spark, sf_small):
    from monasca_aggregator_spark.plans.temporal import q_user_event_seq

    out = {r.user_id: r for r in q_user_event_seq(spark, sf_small).collect()}
    assert out  # one row per user
    for r in out.values():
        parts = r.seq_str.split("|")
        assert len(parts) == r.n_events
        ts = [int(p.split(":")[0]) for p in parts]
        assert ts == sorted(ts)  # event-time order
        assert ts[0] == r.first_ms and ts[-1] == r.last_ms


def test_cumulative_users_invariants(spark, sf_small):
    from pyspark.sql import functions as F

    from monasca_aggregator_spark.plans.temporal import (
        q_events_cumulative_users,
    )
    from monasca_aggregator_spark.sources.tables import load_table

    rows = sorted(
        q_events_cumulative_users(spark, sf_small).collect(),
        key=lambda r: r.day_ts_ms,
    )
    total_users = (
        load_table(spark, sf_small, "events")
        .agg(F.count_distinct("user_id"))
        .collect()[0][0]
    )
    assert rows[-1].cumulative_users == total_users
    assert sum(r.n_new for r in rows) == total_users
    cum = 0
    for r in rows:
        cum += r.n_new
        assert r.cumulative_users == cum
        assert r.n_new <= r.n_active <= cum


def test_events_seq_patterns_ranked_and_bounded(spark, sf_small):
    """Top-K sequence patterns: ranks contiguous from 1, counts
    non-increasing, patterns are 3-part event_type chains."""
    from monasca_aggregator_spark.plans.temporal import (
        q_events_seq_patterns,
    )

    rows = sorted(
        q_events_seq_patterns(spark, sf_small).collect(),
        key=lambda r: r.rank,
    )
    assert rows and [r.rank for r in rows] == list(range(1, len(rows) + 1))
    assert all(a.n >= b.n for a, b in zip(rows, rows[1:]))
    assert all(len(r.pattern.split(">")) == 3 for r in rows)
