"""spec_to_sql ≡ build_aggregation over the same envelope relation,
across every function, filter/reject shape, grouping, and rollup."""

from __future__ import annotations

import math

import pytest

from monasca_aggregator_spark.models import AggregationSpec, Rollup
from monasca_aggregator_spark.operators.aggregate import build_aggregation
from monasca_aggregator_spark.sources.envelope import events_to_envelopes
from monasca_aggregator_spark.sources.tables import load_table
from monasca_aggregator_spark.sql_compile import spec_to_sql


def _env(spark, sf_small):
    env = events_to_envelopes(load_table(spark, sf_small, "events"))
    env.createOrReplaceTempView("envelopes")
    return env


def _key(r):
    return (
        r.window_ts_ms,
        r.tenant_id,
        r.name,
        tuple(sorted((r.dimensions or {}).items())),
    )


def _assert_equiv(spark, env, spec, window=3600, **kw):
    df_plan = build_aggregation(env, spec, window, **kw)
    df_sql = spark.sql(spec_to_sql(spec, window, **kw))
    a = {_key(r): r.value for r in df_plan.collect()}
    b = {_key(r): r.value for r in df_sql.collect()}
    assert set(a) == set(b), (set(a) ^ set(b))
    for k, v in a.items():
        if v is None or b[k] is None:
            assert v == b[k], (k, v, b[k])
        else:
            assert math.isclose(v, b[k], rel_tol=1e-12), (k, v, b[k])
    assert a, f"spec {spec.name} produced no rows — vacuous test"


@pytest.mark.parametrize(
    "fn", ["count", "sum", "avg", "min", "max", "delta", "rate",
           "distinct", "p95"]
)
def test_every_function_compiles_equivalently(spark, sf_small, fn):
    env = _env(spark, sf_small)
    spec = AggregationSpec(
        name=f"sql_{fn}",
        aggregated_metric_name=f"agg.click.{fn}",
        filtered_metric_name="click",
        function=fn,
        grouped_dimensions=("user_id",),
    )
    _assert_equiv(spark, env, spec)


def test_filters_rejects_and_rollup_compile_equivalently(spark, sf_small):
    env = _env(spark, sf_small)
    spec = AggregationSpec(
        name="sql_full",
        aggregated_metric_name="agg.purchase.rolled",
        filtered_metric_name="purchase",
        function="sum",
        filtered_dimensions={},
        rejected_dimensions={"k": "13"},
        grouped_dimensions=("user_id", "k"),
        rollup=Rollup(function="max", grouped_dimensions=("k",)),
    )
    _assert_equiv(spark, env, spec)


def test_filtered_dimension_literal_lands_in_output_map(spark, sf_small):
    env = _env(spark, sf_small)
    some_k = env.selectExpr("dimensions['k'] AS k").where(
        "k IS NOT NULL"
    ).first().k
    spec = AggregationSpec(
        name="sql_fdim",
        aggregated_metric_name="agg.view.fdim",
        filtered_metric_name="view",
        function="count",
        filtered_dimensions={"k": some_k},
        grouped_dimensions=("user_id",),
    )
    _assert_equiv(spark, env, spec)
    out = spark.sql(spec_to_sql(spec, 3600)).first()
    assert out.dimensions["k"] == some_k


def test_arrival_mode_orders_by_the_given_column(spark):
    import datetime as dt

    from pyspark.sql import functions as F

    t = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # same window; event time says first=10 last=30, arrival says
        # first=30 last=10 → delta flips sign between the two modes
        ("m", t.replace(minute=1), 10.0, 2),
        ("m", t.replace(minute=2), 20.0, 1),
        ("m", t.replace(minute=3), 30.0, 0),
    ]
    env = spark.createDataFrame(
        rows, "name string, timestamp timestamp, value double, off long"
    ).select(
        "name",
        F.expr("map('h','x')").alias("dimensions"),
        "timestamp",
        "value",
        F.expr("map()").cast("map<string,string>").alias("value_meta"),
        F.lit("t0").alias("tenant_id"),
        F.expr("map()").cast("map<string,string>").alias("meta"),
        "off",
    )
    env.createOrReplaceTempView("envelopes")
    spec = AggregationSpec(
        name="sql_arrival",
        aggregated_metric_name="agg.m.delta",
        filtered_metric_name="m",
        function="delta",
        grouped_dimensions=("h",),
        time_source="arrival",
    )
    got_sql = spark.sql(
        spec_to_sql(spec, 3600, arrival_col="off")
    ).first()
    got_plan = build_aggregation(
        env, spec, 3600, arrival_col="off"
    ).first()
    assert got_sql.value == got_plan.value == (10.0 - 30.0)
    # event-time mode on the same rows gives +20
    spec_ev = AggregationSpec(
        name="sql_event",
        aggregated_metric_name="agg.m.delta",
        filtered_metric_name="m",
        function="delta",
        grouped_dimensions=("h",),
    )
    assert spark.sql(spec_to_sql(spec_ev, 3600)).first().value == 20.0


def test_quote_escaping_in_literals(spark):
    """Quotes and backslashes in names, keys and values survive as SQL
    literals: Spark SQL reads '\\' as an escape, so an unescaped
    backslash would turn the filter value a\\b into a<backspace> and
    the rule would silently match nothing."""
    from pyspark.sql import functions as F

    env = spark.createDataFrame(
        [("it's", "2024-01-01 00:00:00", 1.0)],
        "name string, ts string, value double",
    ).select(
        "name",
        F.create_map(
            F.lit("o'k"), F.lit("v'1"), F.lit("p\\q"), F.lit("a\\b")
        ).alias("dimensions"),
        F.to_timestamp("ts").alias("timestamp"),
        "value",
        F.expr("map()").cast("map<string,string>").alias("value_meta"),
        F.lit("t0").alias("tenant_id"),
        F.expr("map()").cast("map<string,string>").alias("meta"),
    )
    env.createOrReplaceTempView("envelopes")
    spec = AggregationSpec(
        name="sql_quote",
        aggregated_metric_name="agg.it's\\x",
        filtered_metric_name="it's",
        function="sum",
        filtered_dimensions={"o'k": "v'1", "p\\q": "a\\b"},
    )
    row = spark.sql(spec_to_sql(spec, 60)).first()
    assert row is not None, "escaped literals no longer match the row"
    assert row.value == 1.0
    assert row.name == "agg.it's\\x"
    assert row.dimensions == {"o'k": "v'1", "p\\q": "a\\b"}
    plan_row = build_aggregation(env, spec, 60).first()
    assert _key(plan_row) == _key(row) and plan_row.value == row.value


def test_colliding_dimension_keys_get_distinct_aliases(spark):
    """'a.b' and 'a_b' sanitize to the same characters; the generated
    aliases must still differ or a spec grouping on both emits
    duplicate-alias SQL with a silently mis-paired output map."""
    from pyspark.sql import functions as F

    from monasca_aggregator_spark.operators.aggregate import _ident

    assert _ident("a.b") != _ident("a_b")
    assert _ident("a_b") == "__dim_a_b"  # clean keys stay readable
    assert _ident("a.b") == _ident("a.b")  # deterministic

    env = spark.createDataFrame(
        [("m", "2024-01-01 00:00:00", 3.0)],
        "name string, ts string, value double",
    ).select(
        "name",
        F.expr("map('a.b','dot','a_b','underscore')").alias("dimensions"),
        F.to_timestamp("ts").alias("timestamp"),
        "value",
        F.expr("map()").cast("map<string,string>").alias("value_meta"),
        F.lit("t0").alias("tenant_id"),
        F.expr("map()").cast("map<string,string>").alias("meta"),
    )
    env.createOrReplaceTempView("envelopes")
    spec = AggregationSpec(
        name="sql_collide",
        aggregated_metric_name="agg.m",
        filtered_metric_name="m",
        function="sum",
        grouped_dimensions=("a.b", "a_b"),
    )
    row = spark.sql(spec_to_sql(spec, 60)).first()
    assert row.dimensions["a.b"] == "dot"
    assert row.dimensions["a_b"] == "underscore"
    assert row.value == 3.0


def test_reference_spec_file_compiles_and_runs_via_sql(spark, sf_small):
    """Every rule in the reference's own aggregation-specifications.yaml
    compiles through spec_to_sql and executes (no rows required — the
    test events carry none of the reference's metric names; the
    contract is the YAML→SQL path, end to end)."""
    from monasca_aggregator_spark.specs import load_specs_from_yaml

    env = _env(spark, sf_small)
    specs = load_specs_from_yaml(
        "/root/reference/aggregation-specifications.yaml"
    )
    assert len(specs) == 5
    for spec in specs:
        df = spark.sql(spec_to_sql(spec, 10))
        assert df.columns == [
            "window_ts_ms", "tenant_id", "name", "dimensions", "value",
        ]
        df.collect()  # executes clean on the envelope view


def test_random_specs_compile_equivalently(spark, sf_small):
    """Property-style fuzz (deterministic enumeration — one Spark job
    pair per case, so the space is sampled, not hypothesis-driven):
    random-ish combinations of function × filters × rejects × groups ×
    rollup must agree between the two backends."""
    import itertools
    import random

    env = _env(spark, sf_small)
    rng = random.Random(20240814)
    fns = ["count", "sum", "avg", "min", "max", "delta", "rate"]
    cases = []
    for i in range(12):
        fn = rng.choice(fns)
        grouped = rng.choice([(), ("user_id",), ("k",), ("user_id", "k")])
        rejected = rng.choice([{}, {"k": "7"}, {"k": ""}])
        roll = None
        if grouped and rng.random() < 0.4:
            roll = Rollup(
                function=rng.choice(["sum", "max", "min", "count"]),
                grouped_dimensions=tuple(
                    g for g in grouped if rng.random() < 0.5
                ),
            )
        cases.append((fn, grouped, rejected, roll))
    ran = 0
    for i, (fn, grouped, rejected, roll) in enumerate(cases):
        spec = AggregationSpec(
            name=f"fuzz{i}",
            aggregated_metric_name=f"agg.fuzz{i}",
            filtered_metric_name=rng.choice(["click", "view", "purchase"]),
            function=fn,
            rejected_dimensions=rejected,
            grouped_dimensions=grouped,
            rollup=roll,
        )
        df_plan = build_aggregation(env, spec, 7200)
        df_sql = spark.sql(spec_to_sql(spec, 7200))
        a = {_key(r): r.value for r in df_plan.collect()}
        b = {_key(r): r.value for r in df_sql.collect()}
        assert set(a) == set(b), (spec, set(a) ^ set(b))
        for kk, v in a.items():
            if v is None or b[kk] is None:
                assert v == b[kk], (spec, kk)
            else:
                assert math.isclose(v, b[kk], rel_tol=1e-12), (spec, kk)
        ran += len(a)
    assert ran > 0
