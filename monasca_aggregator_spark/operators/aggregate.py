"""The rule module: the one plan the daemon, backfill and the catalog
run for an AggregationSpec.

The reference iterates every message through every rule, keeping running
aggregates in a hash-of-hashes keyed by (window, tenant+dims)
(reference: aggregation/aggregation_rule.go:50-77, caching.go). Here the
whole rule compiles to::

    watermark(timestamp, lag)                             -- streaming only
      → [coalesce(1)]                                       -- one state partition
      → filter (name / dims / reject / grouped-keys-present) -- pushdown-able
      → groupBy(window, tenant, *grouped_dims)              -- at most ONE shuffle
      → agg(function)                                       -- partial agg map-side
      → [groupBy(window, tenant, *rollup_dims).agg]         -- optional rollup

and Catalyst/Tungsten choose the physical strategy. At scale this is a
single hash-partitioned shuffle on a high-cardinality uniform key; the
rollup stage re-shuffles the already-aggregated (small) output. A
streaming rule whose state has one partition (the session's
``spark.sql.shuffle.partitions`` is 1 when it is built, as
``build_continuous_pipeline`` sets it beside many rules) has none: it
reads into one partition and aggregates there, rollup included, so
each micro-batch runs as one stage.

Each step of that shape is defined once here — the predicate
(``matches_metric``), the group keys (``_group_keys``), the function
table (``_AGG_EXPRS``), the window key (``_aggregate``), the
output-dims map (``_output``) and the rollup stage (``_rollup``) — and
``build_aggregation`` chains them over a batch or a streaming envelope
relation alike. What only streaming needs costs batch nothing: Spark
drops the watermark (reference windowLag, server.go:215) from a batch
plan, and the heartbeat conjunct that lets quiet topics publish
(``with_wallclock_heartbeat``) matches no batch row. A streaming
rollup is a second append-mode aggregation grouped by the first one's
window struct, so it sees each window once, when the watermark
finalizes it — when the reference rolls up (aggregation_rule.go:88-136).

Batch ≡ streaming therefore holds by construction: a streaming query
is the incremental form of the same plan. tests/test_streaming.py
asserts it empirically. ``sql_compile`` renders the same rule as SQL
text and is pinned equal to ``build_aggregation``.

Semantics notes vs the reference:
- ``delta``/``rate`` take first/last by **event time** by default
  (``min_by``/``max_by`` built-ins). The reference uses Kafka *arrival*
  order (delta_metric.go, rate_metric.go), which is nondeterministic
  under repartitioning; event-time order is the deterministic fix.
  Exact reference parity is opt-in: ``spec.time_source = "arrival"``
  (YAML ``timeSource: arrival``) orders first/last by an explicit
  arrival column (``arrival_col`` — e.g. the Kafka offset), making the
  arrival semantics reproducible because the order key is data, not
  executor scheduling. The daemon's envelope relation has no such
  column, so ``build_continuous_pipeline`` rejects an arrival rule.
- ``rate`` over a single sample yields NULL (Δt=0) instead of the
  reference's accidental ``-value/-elapsed`` on its zero-initialized
  struct (rate_metric.go:36-42).

Expected input is the metric-envelope relation produced by
``sources.envelope`` (columns: name, dimensions map<string,string>,
timestamp, value, tenant_id, meta).
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from monasca_aggregator_spark.config import SHUFFLE_PARTITIONS
from monasca_aggregator_spark.models import AggregationSpec

# Reserved metric name for watermark-advancing heartbeat rows; never
# matches a spec filter and is dropped before output.
HEARTBEAT_NAME = "__heartbeat__"

# Aggregate expression factories: (value, event-time ms, order key) →
# Column. ``order`` is the first/last ordering for delta/rate — the
# event time itself in the default mode (max_by(ts, ts) ≡ max(ts)), an
# arrival column under time_source="arrival".
_AGG_EXPRS = {
    "count": lambda value, ts, order: F.count(F.lit(1)).cast("double"),
    "sum": lambda value, ts, order: F.sum(value),
    "avg": lambda value, ts, order: F.avg(value),
    "min": lambda value, ts, order: F.min(value),
    "max": lambda value, ts, order: F.max(value),
    # last-by-order minus first-by-order
    "delta": lambda value, ts, order: F.max_by(value, order)
    - F.min_by(value, order),
    # delta / elapsed seconds between the SAME first/last picks; NULL
    # when they coincide (single sample, or equal timestamps)
    "rate": lambda value, ts, order: (
        F.max_by(value, order) - F.min_by(value, order)
    )
    / F.nullif(
        (F.max_by(ts, order) - F.min_by(ts, order)) / F.lit(1000.0),
        F.lit(0.0),
    ),
    # beyond the reference's seven: sketch aggregates with bounded,
    # map-side-combinable state — the forms that work unchanged as
    # streaming aggregations (exact distinct/percentile state is
    # unbounded per group). Exact in HLL++ sparse mode / below the GK
    # sample threshold (see plans.metrics sketch queries).
    "distinct": lambda value, ts, order: F.approx_count_distinct(
        value, rsd=0.005
    ).cast("double"),
    "p95": lambda value, ts, order: F.percentile_approx(
        value, F.lit(0.95), F.lit(100000)
    ),
}


def matches_metric(spec: AggregationSpec, name: Column, dims: Column) -> Column:
    """Predicate equivalent of Rule.MatchesMetric
    (reference: aggregation/aggregation_rule.go:139-173)."""
    pred = name == F.lit(spec.filtered_metric_name)
    for k, v in spec.filtered_dimensions.items():
        pred = pred & (dims.getItem(k) == F.lit(v))
    for k, v in spec.rejected_dimensions.items():
        if v == "":
            # empty value ⇒ reject every value of this key
            pred = pred & dims.getItem(k).isNull()
        else:
            # reject only the exact k=v pair (absent key passes)
            pred = pred & (
                dims.getItem(k).isNull() | (dims.getItem(k) != F.lit(v))
            )
    for k in spec.grouped_dimensions:
        pred = pred & dims.getItem(k).isNotNull()
    return pred


def _ident(k: str) -> str:
    """Sanitized, COLLISION-FREE alias for a dimension key.

    A raw key can hold characters a column name cannot ('a.b' reads as
    struct-field access), and plain substitution alone is ambiguous:
    'a.b' and 'a_b' would both become __dim_a_b, so a spec grouping on
    both would silently mis-pair the output map. Any key that needed
    sanitizing gets a short hash of the RAW key appended, so distinct
    keys always map to distinct aliases while clean keys keep their
    readable form.
    """
    safe = re.sub(r"[^A-Za-z0-9_]", "_", k)
    if safe != k:
        digest = hashlib.sha1(k.encode()).hexdigest()[:8]
        safe = f"{safe}_x{digest}"
    return "__dim_" + safe


def _group_keys(keys: tuple[str, ...]) -> list[Column]:
    """The grouped dimension values, one ``_ident`` column per key."""
    dims = F.col("dimensions")
    return [dims.getItem(k).alias(_ident(k)) for k in keys]


def _aggregate(
    matched: DataFrame,
    spec: AggregationSpec,
    window_size_sec: int,
    *extra: Column,
    order: Column | None = None,
) -> DataFrame:
    """First stage: one row per (window ``w``, tenant, grouped values)
    with the rule's function as ``value`` (plus any ``extra`` aggregates)."""
    ts_ms = F.unix_millis(F.col("timestamp"))
    value = _AGG_EXPRS[spec.function](
        F.col("value"), ts_ms, ts_ms if order is None else order
    )
    window = F.window(F.col("timestamp"), f"{window_size_sec} seconds")
    return matched.groupBy(
        window.alias("w"),
        F.col("tenant_id"),
        *_group_keys(spec.grouped_dimensions),
    ).agg(value.alias("value"), *extra)


def _window_ts() -> Column:
    """The output timestamp: the start of window ``w`` in epoch ms
    (reference: aggregation_rule.go:76)."""
    return F.unix_millis(F.col("w.start")).alias("window_ts_ms")


def _output(
    out: DataFrame, spec: AggregationSpec, keys: tuple[str, ...]
) -> DataFrame:
    """The published envelope shape. Output dimensions =
    filteredDimensions ∪ the grouped values of ``keys``
    (reference: aggregation/metric_holder.go:44-61)."""
    entries: list[Column] = []
    for k, v in spec.filtered_dimensions.items():
        entries += [F.lit(k), F.lit(v)]
    for k in keys:
        entries += [F.lit(k), F.col(_ident(k))]
    return out.select(
        _window_ts(),
        F.col("tenant_id"),
        F.lit(spec.aggregated_metric_name).alias("name"),
        F.create_map(*entries).alias("dimensions"),
        F.col("value"),
    )


def _rollup(first: DataFrame, spec: AggregationSpec) -> DataFrame:
    """Second stage over the rollup's subset keys, grouped by the first
    stage's window struct ``w`` (its event-time metadata lets a stream
    chain this in append mode). Event time is the window start,
    constant per group: delta degenerates to 0 and rate to NULL,
    mirroring the reference's re-run of the metric holders on
    aggregated envelopes (aggregation_rule.go:104-125)."""
    rollup = spec.rollup
    window_ts = _window_ts()
    value = _AGG_EXPRS[rollup.function](F.col("value"), window_ts, window_ts)
    keys = [F.col(_ident(k)) for k in rollup.grouped_dimensions]
    out = first.groupBy(F.col("w"), F.col("tenant_id"), *keys).agg(
        value.alias("value")
    )
    return _output(out, spec, rollup.grouped_dimensions)


def build_aggregation(
    df: DataFrame,
    spec: AggregationSpec,
    window_size_sec: int,
    lag_sec: int = 0,
    *,
    arrival_col: str | None = None,
) -> DataFrame:
    """The plan for one rule, rollup included, over a batch or a
    streaming envelope relation.

    Output schema: window_ts_ms bigint, tenant_id, name string,
    dimensions map<string,string>, value double — one row per
    (window, tenant, group), like the envelopes the reference emits from
    Rule.GetMetrics (aggregation/aggregation_rule.go:80-136). An
    envelope with no timestamp belongs to no window and is dropped.

    ``lag_sec`` is the watermark delay (reference windowLag,
    server.go:215); Spark ignores the watermark on a batch relation.
    Run a streaming plan in append mode: each window is emitted once,
    after the watermark passes its end. A streaming plan built while
    the session's ``spark.sql.shuffle.partitions`` is 1 reads into one
    partition and has no shuffle.
    """
    order = None
    if spec.time_source == "arrival":
        if arrival_col is None:
            raise ValueError(
                f"rule {spec.name}: time_source='arrival' needs "
                "arrival_col (e.g. the Kafka offset column)"
            )
        order = F.col(arrival_col)
    if dict(df.dtypes).get("timestamp") == "timestamp_ntz":
        # withWatermark requires TIMESTAMP (with timezone); parquet file
        # sources may surface event time as TIMESTAMP_NTZ depending on
        # writer metadata. Session timezone is UTC, so the cast is a
        # pure type relabel, not a wall-clock shift.
        df = df.withColumn("timestamp", F.col("timestamp").cast("timestamp"))
    # heartbeat rows PASS the filter (one OR'd conjunct, so Catalyst's
    # push-below-watermark still keeps them) and advance the watermark;
    # they aggregate into their own reserved-tenant groups and are
    # dropped below via the aggregated __hb flag — the only filter
    # position the optimizer cannot push underneath the watermark
    is_hb = F.col("name") == HEARTBEAT_NAME
    watermarked = df.withWatermark("timestamp", f"{lag_sec} seconds")
    if df.isStreaming and df.sparkSession.conf.get(SHUFFLE_PARTITIONS) == "1":
        # state in one partition: a single-partition child meets the
        # stateful aggregation's distribution, so Spark plans no
        # Exchange and a micro-batch runs as one stage. Above the
        # watermark, whose node reports unknown partitioning; a restart
        # that restores more partitions gets its Exchange back
        watermarked = watermarked.coalesce(1)
    matched = watermarked.filter(
        matches_metric(spec, F.col("name"), F.col("dimensions")) | is_hb
    )
    out = _aggregate(
        matched, spec, window_size_sec, F.max(is_hb).alias("__hb"), order=order
    ).filter(F.col("__hb") == F.lit(False))
    if spec.rollup is not None:
        return _rollup(out, spec)
    return _output(out, spec, spec.grouped_dimensions)


def with_wallclock_heartbeat(env: DataFrame, spark: SparkSession) -> DataFrame:
    """Union the envelope relation with a rate-source heartbeat so the
    watermark keeps advancing when the topic goes QUIET.

    Spark's watermark moves only on new data; the reference instead
    publishes a window at ``windowLag`` past its close on a wall-clock
    ticker (server.go:213-296), so its quiet-stream windows still
    finalize. The heartbeat closes that gap the Spark-native way: a
    ``rate`` source emits one row/sec whose event time IS wall clock,
    tagged ``__heartbeat__`` so every spec filter drops it — it
    contributes nothing to any aggregate, but the event-time watermark
    (applied upstream of the filters in ``build_aggregation``) tracks
    wall clock, and idle windows publish within lag + trigger interval,
    exactly the reference's publication schedule.

    The rate source is trivial (1 row/sec) and reads one partition;
    Spark's default, ``defaultParallelism`` partitions, would add that
    many map tasks to every micro-batch of a rule query whose state has
    more than one partition.

    Optimizer subtlety this design routes around: Catalyst pushes any
    filter conjunct that does not reference the event-time column BELOW
    the EventTimeWatermark node (PushPredicateThroughNonJoin), so a
    plain "drop heartbeats" pre-aggregation filter would discard them
    before they ever update the watermark. Heartbeat rows therefore
    PASS the spec filter (build_aggregation ORs them in),
    flow through the watermark into their own (reserved-tenant) groups,
    and are dropped after aggregation via a predicate on an aggregated
    column — which Catalyst cannot push down.
    """
    hb = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "1")
        .option("numPartitions", "1")
        .load()
    )
    types = dict(env.dtypes)
    exprs = []
    for c in env.columns:
        if c == "timestamp":
            exprs.append(F.col("timestamp").alias(c))
        elif c in ("name", "tenant_id"):
            # reserved tenant too: heartbeat rows can never share a
            # group with real data, so dropping their groups post-agg
            # is exact
            exprs.append(F.lit(HEARTBEAT_NAME).alias(c))
        else:
            exprs.append(F.lit(None).cast(types[c]).alias(c))
    return env.unionByName(hb.select(*exprs))


def run_stream_with_publish(
    spark: SparkSession,
    finalized: DataFrame,
    transform,
    *,
    sink=None,
    query_name: str = "publish_stream",
) -> DataFrame:
    """Generic publish-time stage: run ``transform(batch_df)`` over
    each append-mode micro-batch of FINALIZED windows in foreachBatch.

    Append mode guarantees each window reaches the transform exactly
    once (after the watermark passes), so any batch-correct transform
    — per-window top-k, alerting joins — is streaming-correct
    here with no cross-batch state. ``sink(df, batch_id)`` defaults to
    collecting into the returned DataFrame (tests); in production
    point it at a distributed write.
    """
    batches: list = []

    def _collect_sink(out: DataFrame, batch_id: int) -> None:
        batches.append(out.collect())

    sink = sink or _collect_sink

    def _publish(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            sink(transform(batch_df), batch_id)

    q = (
        finalized.writeStream.foreachBatch(_publish)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = [r for b in batches for r in b]
    schema = transform(
        spark.createDataFrame([], finalized.schema)
    ).schema
    return spark.createDataFrame(rows, schema)
