"""YAML rule-DSL loader.

Accepts the reference's aggregation-specifications.yaml format verbatim
(reference: aggregation-specifications.yaml, server.go:113-129).
"""

from __future__ import annotations

from typing import Any

from monasca_aggregator_spark.models import AggregationSpec, Rollup, SpecError


def _spec_from_dict(raw: dict[str, Any]) -> AggregationSpec:
    rollup = None
    if raw.get("rollup"):
        r = raw["rollup"]
        rollup = Rollup(
            function=r.get("function", ""),
            grouped_dimensions=tuple(r.get("groupedDimensions") or ()),
        )
    return AggregationSpec(
        name=raw.get("name", ""),
        aggregated_metric_name=raw.get("aggregatedMetricName", ""),
        filtered_metric_name=raw.get("filteredMetricName", ""),
        function=raw.get("function", ""),
        filtered_dimensions=dict(raw.get("filteredDimensions") or {}),
        rejected_dimensions=dict(raw.get("rejectedDimensions") or {}),
        grouped_dimensions=tuple(raw.get("groupedDimensions") or ()),
        rollup=rollup,
        time_source=raw.get("timeSource", "event"),
    )


def load_specs(doc: dict[str, Any] | list[dict[str, Any]]) -> list[AggregationSpec]:
    """Build validated specs from a parsed YAML document or a raw list."""
    if isinstance(doc, dict):
        raw_list = doc.get("aggregationSpecifications")
        if raw_list is None:
            raise SpecError("document missing 'aggregationSpecifications'")
    else:
        raw_list = doc
    specs = [_spec_from_dict(raw) for raw in raw_list]
    # the daemon keys each rule's checkpoint and sink path by its name:
    # two rules sharing one would stop each other's query
    seen = set()
    for spec in specs:
        if spec.name in seen:
            raise SpecError(f"duplicate rule name {spec.name!r}")
        seen.add(spec.name)
    return specs


def load_specs_from_yaml(path: str) -> list[AggregationSpec]:
    import yaml

    with open(path) as f:
        return load_specs(yaml.safe_load(f))
