"""Windowed backfill: authoritative-range republish over a stored
dataset — replaced rows, vanished windows, untouched history."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from monasca_aggregator_spark.backfill import backfill_windows
from monasca_aggregator_spark.models import AggregationSpec
from monasca_aggregator_spark.sources.envelope import events_to_envelopes

HOUR_MS = 3_600_000
T0 = dt.datetime(2024, 1, 1)
T0_MS = 1_704_067_200_000


def _events(spark, rows):
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )


def _spec():
    return AggregationSpec(
        name="sum_click",
        aggregated_metric_name="agg.click.sum",
        filtered_metric_name="click",
        function="sum",
    )


def _published(spark, path):
    return {
        (r.window_ts_ms, r.name): r.value
        for r in spark.read.parquet(path).collect()
    }


def test_backfill_replaces_range_and_drops_vanished_windows(
    spark, tmp_path
):
    target = str(tmp_path / "published")

    def ev(eid, hour, val, etype="click"):
        return (eid, T0 + dt.timedelta(hours=hour), 1, etype, val, "{}")

    # initial publish: hours 0..3 (hour 2 will later vanish), plus an
    # unrelated metric row that must survive every backfill
    first = _events(
        spark,
        [ev(1, 0, 1.0), ev(2, 1, 2.0), ev(3, 2, 4.0), ev(4, 3, 8.0),
         ev(5, 1, 100.0, "view")],
    )
    env = events_to_envelopes(first)
    backfill_windows(
        spark, env, _spec(), 3600, T0_MS, T0_MS + 4 * HOUR_MS, target
    )
    view_spec = AggregationSpec(
        name="sum_view",
        aggregated_metric_name="agg.view.sum",
        filtered_metric_name="view",
        function="sum",
    )
    backfill_windows(
        spark, env, view_spec, 3600, T0_MS, T0_MS + 4 * HOUR_MS, target
    )
    pub = _published(spark, target)
    assert pub[(T0_MS + 2 * HOUR_MS, "agg.click.sum")] == 4.0
    assert pub[(T0_MS + 1 * HOUR_MS, "agg.view.sum")] == 100.0

    # corrected source for hours 1..2: hour 1 revised, hour 2 GONE
    corrected = _events(
        spark, [ev(10, 1, 20.0), ev(11, 1, 5.0)]
    )
    out = backfill_windows(
        spark,
        events_to_envelopes(corrected),
        _spec(),
        3600,
        T0_MS + 1 * HOUR_MS,
        T0_MS + 3 * HOUR_MS,
        target,
    )
    assert out.count() == 1
    pub = _published(spark, target)
    assert pub[(T0_MS + 1 * HOUR_MS, "agg.click.sum")] == 25.0  # replaced
    assert (T0_MS + 2 * HOUR_MS, "agg.click.sum") not in pub    # vanished
    assert pub[(T0_MS + 0 * HOUR_MS, "agg.click.sum")] == 1.0   # untouched
    assert pub[(T0_MS + 3 * HOUR_MS, "agg.click.sum")] == 8.0   # untouched
    assert pub[(T0_MS + 1 * HOUR_MS, "agg.view.sum")] == 100.0  # other metric


def test_backfill_drops_partition_when_whole_day_vanishes(spark, tmp_path):
    """ADVICE r2: dynamic partition overwrite only rewrites partitions
    present in the rebuilt set — if EVERY published row of a touched
    day was this metric inside the range and the recompute produced
    nothing, the day partition must be deleted, not left stale."""
    target = str(tmp_path / "published")
    DAY_MS = 86_400_000

    def ev(eid, hour, val):
        return (eid, T0 + dt.timedelta(hours=hour), 1, "click", val, "{}")

    # day 0 holds only in-range rows of this metric; day 1 is untouched
    first = _events(spark, [ev(1, 0, 1.0), ev(2, 1, 2.0), ev(3, 25, 4.0)])
    backfill_windows(
        spark, events_to_envelopes(first), _spec(), 3600,
        T0_MS, T0_MS + 2 * DAY_MS, target,
    )
    assert len(_published(spark, target)) == 3

    # recompute day 0 from an EMPTY corrected source → whole day gone
    backfill_windows(
        spark, events_to_envelopes(_events(spark, [])), _spec(), 3600,
        T0_MS, T0_MS + DAY_MS, target,
    )
    pub = _published(spark, target)
    assert pub == {(T0_MS + 25 * HOUR_MS, "agg.click.sum"): 4.0}
    import os

    assert not os.path.exists(os.path.join(target, f"day_ms={T0_MS}"))


def test_backfill_rejects_unaligned_range(spark, tmp_path):
    env = events_to_envelopes(_events(spark, []))
    with pytest.raises(ValueError):
        backfill_windows(
            spark, env, _spec(), 3600, T0_MS + 1, T0_MS + HOUR_MS,
            str(tmp_path / "x"),
        )


def test_backfill_prunes_source_scan(spark, tmp_path):
    """The range predicate must reach the source scan (PushedFilters
    on timestamp) — a backfill that rescans all history is wrong."""
    rows = [
        (i, T0 + dt.timedelta(hours=i), 1, "click", 1.0, "{}")
        for i in range(48)
    ]
    src = tmp_path / "src"
    _events(spark, rows).write.parquet(str(src / "events.parquet"))
    from monasca_aggregator_spark.sources.tables import load_table

    env = events_to_envelopes(load_table(spark, str(src), "events"))
    out = backfill_windows(
        spark, env, _spec(), 3600, T0_MS, T0_MS + 2 * HOUR_MS,
        str(tmp_path / "pub"),
    )
    assert out.count() == 2


def test_backfill_keeps_tenants_apart(spark, tmp_path):
    """Two tenants publishing the same window and dims are two rows,
    before and after a rewrite, each with its own value."""
    target = str(tmp_path / "published")

    def env(rows):
        by_tenant = {}
        for tenant, eid, hour, val in rows:
            by_tenant.setdefault(tenant, []).append(
                (eid, T0 + dt.timedelta(hours=hour), 1, "click", val, "{}")
            )
        out = None
        for tenant, evs in by_tenant.items():
            e = events_to_envelopes(_events(spark, evs), tenant_id=tenant)
            out = e if out is None else out.unionByName(e)
        return out

    def published():
        return {
            (r.window_ts_ms, r.tenant_id): r.value
            for r in spark.read.parquet(target).collect()
        }

    backfill_windows(
        spark,
        env([("a", 1, 0, 1.0), ("b", 2, 0, 2.0),
             ("a", 3, 1, 4.0), ("b", 4, 1, 8.0)]),
        _spec(), 3600, T0_MS, T0_MS + 2 * HOUR_MS, target,
    )
    assert published() == {
        (T0_MS, "a"): 1.0,
        (T0_MS, "b"): 2.0,
        (T0_MS + HOUR_MS, "a"): 4.0,
        (T0_MS + HOUR_MS, "b"): 8.0,
    }
    backfill_windows(
        spark,
        env([("a", 5, 1, 16.0), ("b", 6, 1, 32.0)]),
        _spec(), 3600, T0_MS + HOUR_MS, T0_MS + 2 * HOUR_MS, target,
    )
    assert published() == {
        (T0_MS, "a"): 1.0,
        (T0_MS, "b"): 2.0,
        (T0_MS + HOUR_MS, "a"): 16.0,
        (T0_MS + HOUR_MS, "b"): 32.0,
    }
