"""Windowed backfill: recompute a time range of an aggregation and
publish it over the stored dataset — the correction workflow every
metrics store eventually runs (late data beyond the watermark, a bug
in a rule, an outage gap), and the batch complement of the streaming
pipeline's exactly-once sink.

Semantics: the recompute is AUTHORITATIVE for the requested range —
every published row in [start_ms, end_ms) for the spec's output
metric is replaced by the recomputed rows, and a published window with
no recomputed counterpart DISAPPEARS (the range's state is rebuilt,
not patched — a key-matched upsert would leave phantom rows for
windows whose input vanished; see sources/sinks.merge_upsert for the
patch-shaped primitive).

Cost model is partition-local, same as the MERGE writer: one source
scan restricted to the range (the timestamp predicate reaches the
scan), the normal aggregation plan, then only the day partitions the
range touches are read, rebuilt (keep-outside-range ∪ recompute),
staged, and swapped in with dynamic partition overwrite. Untouched
history is never read or rewritten.

Reference parity: the reference can only re-publish windows still in
its in-memory cache (aggregation window retention, server.go's window
map); a durable store + deterministic recompute makes any historical
range repairable.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from monasca_aggregator_spark.models import AggregationSpec
from monasca_aggregator_spark.operators.aggregate import build_aggregation

DAY_MS = 86_400_000


def _fs_delete(spark: SparkSession, path: str) -> None:
    """Recursively delete ``path`` through the Hadoop FileSystem API so
    the vanished-partition contract holds on ANY store the session can
    write (local, HDFS, S3A, ...) — a local-only shutil.rmtree would
    silently no-op on remote URIs and leave the stale partition alive
    (r3 ADVICE). Missing paths are a no-op, matching rmtree's
    ignore_errors semantics."""
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(
        spark.sparkContext._jsc.hadoopConfiguration()
    )
    fs.delete(jpath, True)


def _fs_exists(spark: SparkSession, path: str) -> bool:
    """URI-scheme-aware existence check (same rationale as _fs_delete)."""
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(
        spark.sparkContext._jsc.hadoopConfiguration()
    )
    return bool(fs.exists(jpath))


def backfill_windows(
    spark: SparkSession,
    envelopes: DataFrame,
    spec: AggregationSpec,
    window_sec: int,
    start_ms: int,
    end_ms: int,
    target_path: str,
) -> DataFrame:
    """Recompute ``spec`` over [start_ms, end_ms) and publish into the
    ``day_ms``-hive-partitioned dataset at ``target_path`` (columns
    window_ts_ms, tenant_id, name, dims_json, value). Returns the
    recomputed rows. The range must sit on window boundaries,
    otherwise edge windows would aggregate partial input and publish
    short."""
    w_ms = window_sec * 1000
    if start_ms % w_ms or end_ms % w_ms:
        raise ValueError(
            f"backfill range must align to the {window_sec}s window"
        )
    src = envelopes.filter(
        (F.col("timestamp") >= F.timestamp_millis(F.lit(start_ms)))
        & (F.col("timestamp") < F.timestamp_millis(F.lit(end_ms)))
    )
    flat = (
        build_aggregation(src, spec, window_sec)
        .select(
            "window_ts_ms",
            "tenant_id",
            F.col("name"),
            F.to_json(F.col("dimensions")).alias("dims_json"),
            F.col("value"),
        )
        .withColumn(
            "day_ms",
            F.col("window_ts_ms")
            - F.pmod(F.col("window_ts_ms"), F.lit(DAY_MS)),
        )
    )
    if not _fs_exists(spark, target_path):
        flat.write.partitionBy("day_ms").parquet(target_path)
        return flat.drop("day_ms")
    base = spark.read.parquet(target_path)
    # rebuild ONLY the day partitions the range touches: rows outside
    # the range (or other metrics) survive, range rows are replaced
    # wholesale by the recompute
    touched_days = [
        d
        for d in range(
            start_ms - start_ms % DAY_MS, end_ms + DAY_MS - 1, DAY_MS
        )
        if d < end_ms
    ]
    affected = base.filter(F.col("day_ms").isin(touched_days))
    keep = affected.filter(
        (F.col("window_ts_ms") < start_ms)
        | (F.col("window_ts_ms") >= end_ms)
        | (F.col("name") != spec.aggregated_metric_name)
    )
    rebuilt = keep.unionByName(flat.select(*keep.columns))
    staging = f"{target_path}__backfill_{uuid.uuid4().hex[:8]}"
    try:
        rebuilt.write.mode("overwrite").parquet(staging)
        staged = spark.read.parquet(staging)
        (
            staged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("day_ms")
            .parquet(target_path)
        )
        # dynamic overwrite only rewrites partitions PRESENT in the
        # rebuilt set — a touched day whose recompute came back empty
        # (every surviving row was in-range for this metric and the
        # new input produced none) would otherwise keep its stale
        # files, violating the "windows with no recomputed
        # counterpart DISAPPEAR" contract. Drop those partitions
        # explicitly; the day list is a tiny distinct over the staged
        # (already materialized) rebuild.
        present = {
            r.day_ms for r in staged.select("day_ms").distinct().collect()
        }
        for d in touched_days:
            if d not in present:
                _fs_delete(spark, f"{target_path}/day_ms={d}")
    finally:
        _fs_delete(spark, staging)
    return flat.drop("day_ms")
