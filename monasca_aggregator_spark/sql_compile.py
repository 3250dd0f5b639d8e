"""Render an AggregationSpec as ONE portable Spark SQL string.

``operators/aggregate.py`` is the rule module: it compiles a spec into
the one DataFrame plan the daemon, backfill and the catalog run. This
module is a separate text renderer of the same rule — the DSL's second
backend, behind ``--emit-sql``. It stays separate because public PySpark has no
way to turn a Column into SQL; folding the two together would make
every term branch on its caller. What the text buys:

- **Portability**: the rule runs on any Spark SQL endpoint (Thrift
  server / Spark Connect / a notebook cell) with no Python on the
  path — ship the YAML, get SQL.
- **Inspectability**: operators can eyeball exactly what a rule
  computes; the SQL is the documentation.
- **Equivalence is enforced, not assumed**: tests run
  ``spark.sql(spec_to_sql(spec))`` and ``build_aggregation`` over the
  same envelope relation and require identical results for every
  function, filter/reject shape, grouping, and rollup.

The generated SQL mirrors build_aggregation's semantics exactly:
epoch-aligned integer window starts (ms − pmod(ms, W), the start of
Spark's ``F.window``; an envelope with no timestamp is dropped),
event-time first/last for delta/rate (arrival mode via an explicit
order column), NULL rate on a single sample, reject-dimension NULL
semantics, and the filteredDimensions ∪ groupedDimensions output map
(reference: aggregation/aggregation_rule.go:139-173,
metric_holder.go:44-61 — semantics only; the SQL generation is
original).

Identifiers: dimension keys and metric names are embedded as SQL
string literals with backslash and single-quote escaping; grouped
columns take the rule module's collision-free ``_ident`` aliases.
"""

from __future__ import annotations

from monasca_aggregator_spark.models import AggregationSpec
from monasca_aggregator_spark.operators.aggregate import _ident


def _q(s: str) -> str:
    """SQL single-quoted string literal. Spark SQL reads a backslash in
    a literal as an escape character, so backslashes are escaped too."""
    return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"


def _agg_sql(fn: str, value: str, ts_ms: str, order: str) -> str:
    if fn == "count":
        return "CAST(count(*) AS DOUBLE)"
    if fn in ("sum", "avg", "min", "max"):
        return f"{fn}({value})"
    if fn == "delta":
        return f"max_by({value}, {order}) - min_by({value}, {order})"
    if fn == "rate":
        return (
            f"(max_by({value}, {order}) - min_by({value}, {order})) / "
            f"nullif((max_by({ts_ms}, {order}) - "
            f"min_by({ts_ms}, {order})) / 1000.0, 0.0)"
        )
    if fn == "distinct":
        return f"CAST(approx_count_distinct({value}, 0.005) AS DOUBLE)"
    if fn == "p95":
        return f"percentile_approx({value}, 0.95, 100000)"
    raise ValueError(f"unknown aggregation function {fn!r}")


def spec_to_sql(
    spec: AggregationSpec,
    window_size_sec: int,
    *,
    arrival_col: str | None = None,
) -> str:
    """One SELECT statement equivalent to ``build_aggregation``, over
    the envelope relation registered as the view ``envelopes``
    (``df.createOrReplaceTempView("envelopes")``)."""
    w_ms = 1000 * window_size_sec
    dim = lambda k: f"dimensions[{_q(k)}]"  # noqa: E731

    preds = [f"name = {_q(spec.filtered_metric_name)}"]
    for k, v in spec.filtered_dimensions.items():
        preds.append(f"{dim(k)} = {_q(v)}")
    for k, v in spec.rejected_dimensions.items():
        if v == "":
            preds.append(f"{dim(k)} IS NULL")
        else:
            preds.append(f"({dim(k)} IS NULL OR {dim(k)} <> {_q(v)})")
    for k in spec.grouped_dimensions:
        preds.append(f"{dim(k)} IS NOT NULL")
    preds.append("timestamp IS NOT NULL")  # no timestamp, no window

    if spec.time_source == "arrival":
        if arrival_col is None:
            raise ValueError(
                f"rule {spec.name}: time_source='arrival' needs "
                "arrival_col"
            )
        order = arrival_col
    else:
        order = "__ts_ms"

    dim_sel = "".join(
        f",\n         {dim(k)} AS {_ident(k)}"
        for k in spec.grouped_dimensions
    )
    order_sel = (
        f",\n         {arrival_col}" if spec.time_source == "arrival" else ""
    )
    matched = (
        "  SELECT unix_millis(timestamp) "
        f"- pmod(unix_millis(timestamp), {w_ms}) AS window_ts_ms,\n"
        "         tenant_id,\n"
        "         value AS __value,\n"
        "         unix_millis(timestamp) AS __ts_ms"
        f"{dim_sel}{order_sel}\n"
        "  FROM envelopes\n"
        f"  WHERE " + "\n    AND ".join(preds)
    )

    g1 = ["window_ts_ms", "tenant_id"] + [
        _ident(k) for k in spec.grouped_dimensions
    ]
    agg1 = _agg_sql(spec.function, "__value", "__ts_ms", order)
    stage1 = (
        f"  SELECT {', '.join(g1)},\n"
        f"         {agg1} AS value\n"
        "  FROM matched\n"
        f"  GROUP BY {', '.join(g1)}"
    )

    if spec.rollup is not None:
        g2 = ["window_ts_ms", "tenant_id"] + [
            _ident(k) for k in spec.rollup.grouped_dimensions
        ]
        # rollup input's event time is the window start — constant per
        # group (delta → 0, rate → NULL), matching build_aggregation
        agg2 = _agg_sql(
            spec.rollup.function, "value", "window_ts_ms", "window_ts_ms"
        )
        stage2 = (
            f"  SELECT {', '.join(g2)},\n"
            f"         {agg2} AS value\n"
            "  FROM stage1\n"
            f"  GROUP BY {', '.join(g2)}"
        )
        out_dim_keys = spec.rollup.grouped_dimensions
        ctes = (
            f"WITH matched AS (\n{matched}\n), stage1 AS (\n{stage1}\n), "
            f"agg AS (\n{stage2}\n)"
        )
    else:
        out_dim_keys = spec.grouped_dimensions
        ctes = f"WITH matched AS (\n{matched}\n), agg AS (\n{stage1}\n)"

    entries: list[str] = []
    for k, v in spec.filtered_dimensions.items():
        entries += [_q(k), _q(v)]
    for k in out_dim_keys:
        entries += [_q(k), _ident(k)]
    dims_expr = f"map({', '.join(entries)})" if entries else "map()"

    return (
        f"{ctes}\n"
        "SELECT window_ts_ms,\n"
        "       tenant_id,\n"
        f"       {_q(spec.aggregated_metric_name)} AS name,\n"
        f"       {dims_expr} AS dimensions,\n"
        "       value\n"
        "FROM agg"
    )
