"""Unit tests of the spec → DataFrame-plan compiler on a hand-built
envelope relation. Scenarios mirror the reference's rule-matching tests
(reference: aggregation/aggregation_rule_test.go) plus the window/value
semantics of the metric holders (aggregation/*_metric.go)."""

from __future__ import annotations

from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from monasca_aggregator_spark.models import AggregationSpec, Rollup
from monasca_aggregator_spark.operators.aggregate import build_aggregation

W = 60  # window seconds
T0 = datetime(2024, 1, 1, 0, 0, 0, tzinfo=timezone.utc)
T0_MS = int(T0.timestamp() * 1000)


def _ts(sec: float) -> datetime:
    return datetime.fromtimestamp(T0.timestamp() + sec, tz=timezone.utc)


def _env_df(spark, rows):
    """rows: (name, dims dict, sec offset, value, tenant)"""
    data = [
        (name, dims, _ts(sec), float(value), tenant, {"tenantId": tenant})
        for name, dims, sec, value, tenant in rows
    ]
    return spark.createDataFrame(
        data,
        "name string, dimensions map<string,string>, timestamp timestamp, "
        "value double, tenant_id string, meta map<string,string>",
    )


def _spec(**kw) -> AggregationSpec:
    base = dict(
        name="t",
        aggregated_metric_name="agg.out",
        filtered_metric_name="cpu",
        function="sum",
    )
    base.update(kw)
    return AggregationSpec(**base)


def _result(df, spec, spark_df=None):
    out = build_aggregation(df, spec, W)
    return {
        (r.window_ts_ms, r.tenant_id, tuple(sorted((r.dimensions or {}).items()))): r.value
        for r in out.collect()
    }


def test_name_filter_and_output_shape(spark):
    df = _env_df(
        spark,
        [
            ("cpu", {}, 1, 10, "t0"),
            ("mem", {}, 2, 99, "t0"),  # different metric: excluded
            ("cpu", {}, 3, 5, "t0"),
        ],
    )
    out = build_aggregation(df, _spec(), W)
    assert out.columns == ["window_ts_ms", "tenant_id", "name", "dimensions", "value"]
    rows = out.collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.name == "agg.out"
    assert r.window_ts_ms == T0_MS
    assert r.value == 15.0


@pytest.mark.parametrize(
    "function,values,expected",
    [
        ("count", [3, 7, 2], 3.0),
        ("sum", [3, 7, 2], 12.0),
        ("avg", [3, 7, 2], 4.0),
        ("min", [3, 7, 2], 2.0),
        ("max", [3, 7, 2], 7.0),
    ],
)
def test_basic_functions(spark, function, values, expected):
    df = _env_df(spark, [("cpu", {}, i, v, "t0") for i, v in enumerate(values)])
    res = _result(df, _spec(function=function))
    assert res[(T0_MS, "t0", ())] == expected


def test_delta_is_last_minus_first_by_event_time(spark):
    # reference: delta_metric.go keeps first/last values; we order by
    # event time deterministically. rows given out of order on purpose.
    df = _env_df(
        spark,
        [("cpu", {}, 30, 50, "t0"), ("cpu", {}, 5, 20, "t0"), ("cpu", {}, 55, 35, "t0")],
    )
    res = _result(df, _spec(function="delta"))
    assert res[(T0_MS, "t0", ())] == 35.0 - 20.0


def test_rate_is_delta_over_elapsed_seconds(spark):
    df = _env_df(spark, [("cpu", {}, 10, 100, "t0"), ("cpu", {}, 40, 160, "t0")])
    res = _result(df, _spec(function="rate"))
    assert res[(T0_MS, "t0", ())] == pytest.approx(60.0 / 30.0)


def test_arrival_order_mode_matches_reference_consume_order(spark):
    """VERDICT r2 #9: timeSource='arrival' replays the reference's
    delta/rate consume-order semantics (delta_metric.go keeps the
    first/last VALUES SEEN), keyed on an explicit arrival column so
    the pick is deterministic. Envelopes arrive OUT of event-time
    order: the two modes must disagree exactly as the reference would
    disagree with event-time ordering."""
    rows = [
        # (arrival seq, sec offset, value) — arrival reversed vs event time
        (0, 55, 35.0),
        (1, 30, 50.0),
        (2, 5, 20.0),
    ]
    data = [
        ("cpu", {}, _ts(sec), v, "t0", {"tenantId": "t0"}, arr)
        for arr, sec, v in rows
    ]
    df = spark.createDataFrame(
        data,
        "name string, dimensions map<string,string>, timestamp timestamp, "
        "value double, tenant_id string, meta map<string,string>, "
        "kafka_offset long",
    )
    spec_ev = _spec(function="delta")
    spec_ar = _spec(function="delta", time_source="arrival")
    ev = build_aggregation(df, spec_ev, W).collect()[0].value
    ar = build_aggregation(
        df, spec_ar, W, arrival_col="kafka_offset"
    ).collect()[0].value
    assert ev == 35.0 - 20.0       # last-by-event-time − first
    assert ar == 20.0 - 35.0       # last-ARRIVED − first-ARRIVED
    # rate: same picks; elapsed from the SAME first/last rows
    r_ar = build_aggregation(
        df, _spec(function="rate", time_source="arrival"), W,
        arrival_col="kafka_offset",
    ).collect()[0].value
    assert r_ar == pytest.approx((20.0 - 35.0) / (5.0 - 55.0))
    # arrival mode without an arrival column fails loudly
    with pytest.raises(ValueError, match="arrival_col"):
        build_aggregation(df, spec_ar, W)
    # the YAML surface accepts timeSource and validates it
    from monasca_aggregator_spark.models import SpecError
    from monasca_aggregator_spark.specs import load_specs

    loaded = load_specs(
        [
            {
                "name": "d",
                "aggregatedMetricName": "a.d",
                "filteredMetricName": "cpu",
                "function": "delta",
                "timeSource": "arrival",
            }
        ]
    )[0]
    assert loaded.time_source == "arrival"
    with pytest.raises(SpecError, match="timeSource"):
        _spec(function="delta", time_source="bogus")


def test_rate_single_sample_is_null(spark):
    # divergence from the reference documented in operators/aggregate.py:
    # Δt=0 yields NULL, not a garbage value (rate_metric.go:36-42)
    df = _env_df(spark, [("cpu", {}, 10, 100, "t0")])
    res = _result(df, _spec(function="rate"))
    assert res[(T0_MS, "t0", ())] is None


def test_windows_are_epoch_aligned_and_separate(spark):
    df = _env_df(
        spark,
        [("cpu", {}, 59, 1, "t0"), ("cpu", {}, 60, 2, "t0"), ("cpu", {}, 119, 4, "t0")],
    )
    res = _result(df, _spec(function="sum"))
    assert res[(T0_MS, "t0", ())] == 1.0
    assert res[(T0_MS + 60_000, "t0", ())] == 6.0


def test_filtered_dimensions_match_exactly(spark):
    # reference: MatchesMetric requires every filteredDimension k=v
    # (aggregation_rule.go:146-152)
    spec = _spec(filtered_dimensions={"host": "h1"})
    df = _env_df(
        spark,
        [
            ("cpu", {"host": "h1"}, 1, 10, "t0"),
            ("cpu", {"host": "h2"}, 2, 20, "t0"),  # wrong value
            ("cpu", {}, 3, 40, "t0"),  # key absent
        ],
    )
    res = _result(df, spec)
    assert res == {(T0_MS, "t0", (("host", "h1"),)): 10.0}


def test_rejected_dimension_exact_value(spark):
    # k=v rejects only that value; other values and absent key pass
    # (aggregation_rule.go:154-163)
    spec = _spec(rejected_dimensions={"az": "z1"})
    df = _env_df(
        spark,
        [
            ("cpu", {"az": "z1"}, 1, 1, "t0"),  # rejected
            ("cpu", {"az": "z2"}, 2, 2, "t0"),
            ("cpu", {}, 3, 4, "t0"),
        ],
    )
    res = _result(df, spec)
    assert res[(T0_MS, "t0", ())] == 6.0


def test_rejected_dimension_empty_rejects_any_value(spark):
    # "" means any value of the key is rejected (aggregation_rule.go:156)
    spec = _spec(rejected_dimensions={"az": ""})
    df = _env_df(
        spark,
        [
            ("cpu", {"az": "z1"}, 1, 1, "t0"),  # rejected
            ("cpu", {"az": "z2"}, 2, 2, "t0"),  # rejected
            ("cpu", {}, 3, 4, "t0"),
        ],
    )
    res = _result(df, spec)
    assert res[(T0_MS, "t0", ())] == 4.0


def test_grouped_dimension_missing_key_excluded(spark):
    # metrics missing a grouped dimension do not match
    # (aggregation_rule.go:166-172)
    spec = _spec(grouped_dimensions=("host",))
    df = _env_df(
        spark,
        [
            ("cpu", {"host": "h1"}, 1, 10, "t0"),
            ("cpu", {"host": "h1"}, 2, 30, "t0"),
            ("cpu", {"host": "h2"}, 3, 7, "t0"),
            ("cpu", {}, 4, 99, "t0"),  # no host key: excluded
        ],
    )
    res = _result(df, spec)
    assert res == {
        (T0_MS, "t0", (("host", "h1"),)): 40.0,
        (T0_MS, "t0", (("host", "h2"),)): 7.0,
    }


def test_group_key_includes_tenant(spark):
    # group key = tenant + grouped dims (aggregation_rule.go:60-66)
    df = _env_df(spark, [("cpu", {}, 1, 10, "tA"), ("cpu", {}, 2, 20, "tB")])
    res = _result(df, _spec())
    assert res[(T0_MS, "tA", ())] == 10.0
    assert res[(T0_MS, "tB", ())] == 20.0


def test_output_dims_are_filtered_union_grouped(spark):
    # reference: metric_holder.go:44-61
    spec = _spec(
        filtered_dimensions={"service": "api"}, grouped_dimensions=("host",)
    )
    df = _env_df(
        spark, [("cpu", {"service": "api", "host": "h1", "extra": "x"}, 1, 5, "t0")]
    )
    out = build_aggregation(df, spec, W).collect()
    assert out[0].dimensions == {"service": "api", "host": "h1"}


def test_dotted_and_underscored_group_keys_stay_distinct(spark):
    """A grouped key containing '.' is not a column path, and 'a.b' and
    'a_b' must not share a group column: both land in the output map
    under their raw names."""
    spec = _spec(grouped_dimensions=("a.b", "a_b"))
    df = _env_df(
        spark,
        [
            ("cpu", {"a.b": "dot", "a_b": "underscore"}, 1, 3, "t0"),
            ("cpu", {"a.b": "dot", "a_b": "other"}, 2, 4, "t0"),
        ],
    )
    assert _result(df, spec) == {
        (T0_MS, "t0", (("a.b", "dot"), ("a_b", "other"))): 4.0,
        (T0_MS, "t0", (("a.b", "dot"), ("a_b", "underscore"))): 3.0,
    }


def test_rollup_reaggregates_over_subset(spark):
    # avg per (window, host) then max of those avgs per window
    # (aggregation_rule.go:88-136)
    spec = _spec(
        function="avg",
        grouped_dimensions=("host",),
        rollup=Rollup(function="max", grouped_dimensions=()),
    )
    df = _env_df(
        spark,
        [
            ("cpu", {"host": "h1"}, 1, 10, "t0"),
            ("cpu", {"host": "h1"}, 2, 30, "t0"),  # h1 avg = 20
            ("cpu", {"host": "h2"}, 3, 50, "t0"),  # h2 avg = 50
        ],
    )
    out = build_aggregation(df, spec, W).collect()
    assert len(out) == 1
    assert out[0].value == 50.0
    assert out[0].dimensions == {}  # rollup dims = ()


def test_rollup_keeps_subset_dims(spark):
    spec = _spec(
        function="sum",
        grouped_dimensions=("host", "az"),
        rollup=Rollup(function="sum", grouped_dimensions=("az",)),
    )
    df = _env_df(
        spark,
        [
            ("cpu", {"host": "h1", "az": "z1"}, 1, 1, "t0"),
            ("cpu", {"host": "h2", "az": "z1"}, 2, 2, "t0"),
            ("cpu", {"host": "h3", "az": "z2"}, 3, 4, "t0"),
        ],
    )
    out = build_aggregation(df, spec, W)
    res = {r.dimensions["az"]: r.value for r in out.collect()}
    assert res == {"z1": 3.0, "z2": 4.0}


def test_multi_rule_fanout_shares_one_scan(spark):
    """The reference applies every rule to each message
    (server.go:306-310); here N rules = N plans over one cached scan."""
    df = _env_df(
        spark,
        [("cpu", {}, 1, 10, "t0"), ("mem", {}, 2, 20, "t0"), ("cpu", {}, 3, 30, "t0")],
    ).cache()
    specs = [
        _spec(name="r1", filtered_metric_name="cpu", function="sum"),
        _spec(name="r2", filtered_metric_name="mem", function="max"),
    ]
    outs = {s.name: _result(df, s) for s in specs}
    assert outs["r1"][(T0_MS, "t0", ())] == 40.0
    assert outs["r2"][(T0_MS, "t0", ())] == 20.0


def test_sketch_functions_distinct_and_p95(spark):
    """DSL extensions beyond the reference's seven: 'distinct' (HLL++)
    and 'p95' (GK) — exact at small cardinality, so pinnable here."""
    rows = []
    for i in range(100):
        # 25 distinct values, each appearing 4 times, all in one window
        rows.append(("cpu", {"u": str(i % 5)}, float(i % 60), float(i % 25), "t0"))
    df = _env_df(spark, rows)

    res = _result(df, _spec(function="distinct"))
    ((_, _, _),) = [k for k in res]  # one window, no grouped dims
    assert list(res.values()) == [25.0]

    res95 = _result(df, _spec(function="p95"))
    # values 0..24: discrete p95 of the multiset is 23 (rank ceil(.95*100)=95 → 23)
    assert list(res95.values()) == [23.0]


def test_sketch_functions_valid_in_spec_and_rollup(spark):
    from monasca_aggregator_spark.models import Rollup

    spec = _spec(
        function="distinct",
        grouped_dimensions=("u",),
        rollup=Rollup(function="p95", grouped_dimensions=()),
    )
    rows = [("cpu", {"u": str(i % 4)}, 1.0, float(i), "t0") for i in range(40)]
    out = build_aggregation(_env_df(spark, rows), spec, W)
    vals = [r.value for r in out.collect()]
    assert len(vals) == 1  # rolled up to one row per window
