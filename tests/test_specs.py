"""Spec DSL validation — mirrors the reference's rule-construction tests
(reference: aggregation/aggregation_rule_test.go, utils_test.go)."""

from __future__ import annotations

import pytest

from monasca_aggregator_spark.models import AggregationSpec, Rollup, SpecError
from monasca_aggregator_spark.specs import load_specs


def _mk(**kw) -> AggregationSpec:
    base = dict(
        name="r1",
        aggregated_metric_name="agg.m",
        filtered_metric_name="m",
        function="sum",
    )
    base.update(kw)
    return AggregationSpec(**base)


def test_valid_spec_roundtrips():
    s = _mk(
        filtered_dimensions={"host": "h1"},
        grouped_dimensions=("region", "az"),
        rollup=Rollup(function="max", grouped_dimensions=("region",)),
    )
    assert s.function == "sum"
    assert s.rollup.function == "max"


@pytest.mark.parametrize("missing", ["name", "aggregated_metric_name", "filtered_metric_name"])
def test_required_fields(missing):
    with pytest.raises(SpecError):
        _mk(**{missing: ""})


def test_unknown_function_rejected():
    with pytest.raises(SpecError):
        _mk(function="median")
    with pytest.raises(SpecError):
        Rollup(function="p99")


def test_empty_function_rejected():
    # reference: TestAggregationRuleWithNoFunction ("must have a function")
    with pytest.raises(SpecError):
        _mk(function="")
    with pytest.raises(SpecError):
        _mk(rollup=Rollup(function="", grouped_dimensions=()))


def test_rollup_dims_must_be_subset():
    # reference: NewAggregationRule rejects rollup dims outside the
    # outer groupedDimensions (aggregation_rule.go:38-46)
    with pytest.raises(SpecError):
        _mk(
            grouped_dimensions=("a",),
            rollup=Rollup(function="sum", grouped_dimensions=("a", "b")),
        )


def test_load_specs_reference_yaml_shape():
    # the reference's aggregation-specifications.yaml document format
    doc = {
        "aggregationSpecifications": [
            {
                "name": "Aggregation1",
                "aggregatedMetricName": "agg.cpu",
                "filteredMetricName": "cpu.utilization",
                "filteredDimensions": {"hostgroup": "compute"},
                "rejectedDimensions": {"deleted": ""},
                "groupedDimensions": ["host"],
                "function": "avg",
                "rollup": {"function": "max", "groupedDimensions": []},
            }
        ]
    }
    [s] = load_specs(doc)
    assert s.filtered_metric_name == "cpu.utilization"
    assert s.filtered_dimensions == {"hostgroup": "compute"}
    assert s.rejected_dimensions == {"deleted": ""}
    assert s.grouped_dimensions == ("host",)
    assert s.rollup == Rollup(function="max", grouped_dimensions=())


def test_load_specs_missing_key():
    with pytest.raises(SpecError):
        load_specs({"wrongKey": []})


def test_load_specs_rejects_duplicate_names():
    # a rule's name keys its checkpoint and sink path in the daemon
    rule = {
        "aggregatedMetricName": "agg.m",
        "filteredMetricName": "m",
        "function": "sum",
    }
    with pytest.raises(SpecError, match="duplicate rule name 'same'"):
        load_specs(
            [{"name": "same", **rule}, {"name": "other", **rule},
             {"name": "same", **rule}]
        )


def test_reference_example_rules_run_end_to_end(spark, tmp_path, sf_small):
    """A specifications file shaped like the reference's own examples
    (count / filtered sum / grouped avg / rollup / reject-any) loads and
    every rule's plan executes over the envelope relation."""
    from monasca_aggregator_spark.operators.aggregate import build_aggregation
    from monasca_aggregator_spark.sources.envelope import events_to_envelopes
    from monasca_aggregator_spark.sources.tables import load_table
    from monasca_aggregator_spark.specs import load_specs_from_yaml

    yaml_text = """
aggregationSpecifications:
  - name: R0
    aggregatedMetricName: agg0
    filteredMetricName: click
    function: count
  - name: R1
    aggregatedMetricName: agg1
    filteredMetricName: purchase
    filteredDimensions:
      k: "7"
    function: sum
  - name: R2
    aggregatedMetricName: agg2
    filteredMetricName: view
    groupedDimensions:
      - user_id
      - k
    function: avg
  - name: R3
    aggregatedMetricName: agg3
    filteredMetricName: view
    groupedDimensions:
      - user_id
      - k
    function: avg
    rollup:
      function: sum
      groupedDimensions:
        - k
  - name: R4
    aggregatedMetricName: agg4
    filteredMetricName: error
    rejectedDimensions:
      user_id: "13"
      k: ""
    groupedDimensions:
      - user_id
    function: count
"""
    p = tmp_path / "aggregation-specifications.yaml"
    p.write_text(yaml_text)
    specs = load_specs_from_yaml(str(p))
    assert [s.name for s in specs] == ["R0", "R1", "R2", "R3", "R4"]

    env = events_to_envelopes(load_table(spark, sf_small, "events")).cache()
    for spec in specs:
        out = build_aggregation(env, spec, 3600)
        n = out.count()
        assert out.columns == [
            "window_ts_ms", "tenant_id", "name", "dimensions", "value",
        ]
        if spec.name == "R4":
            # every event carries a k dim -> reject k="" (any value)
            # drops everything
            assert n == 0
        else:
            assert n > 0, spec.name
        assert out.first() is None or out.first().name == spec.aggregated_metric_name
