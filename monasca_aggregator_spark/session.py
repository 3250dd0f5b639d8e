"""SparkSession factory with scale-appropriate defaults.

Local testing runs local[N]; the same conf keys are what you'd set on a
real cluster (AQE handles runtime re-planning and skew joins there).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """The driver heap when ``SPARK_DRIVER_MEMORY`` is unset: min(8 GB,
    half of physical RAM), in Spark's memory-size syntax."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    return f"{min(8 * 1024, half_mb)}m"


def get_spark(
    app_name: str = "monasca-aggregator-spark",
    *,
    cpus: int | None = None,
) -> SparkSession:
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r11 (measured): without this, a cached relation pins its
        # subplan to the NON-adaptive physical plan — every intra-query
        # .cache() of a reused bounded intermediate then executes with
        # static shuffle partitioning and no AQE join re-planning.
        # Letting AQE change cached-plan output partitioning halved the
        # cached-subtree queries at bench SF (e.g. graph_link_prediction
        # 1.9→0.9 s, orders_copurchase 1.5→0.8 s) and is
        # scale-independent (it only widens AQE's scope).
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        # r12 (guide §3.1/§9, measured): allow the planner to pick a
        # shuffled-hash join when its size conditions hold instead of
        # always preferring sort-merge — removes both sides' sorts on
        # the self-join-heavy graph/dedup/copurchase families
        # (20-query A/B at sf0.1 under the clearCache protocol:
        # 38.6 -> 35.7/37.1 s over two runs; copurchase_cosine_topk
        # 2.46 -> 1.84, dedup_containment 1.85 -> 1.25,
        # basket_association_lift 1.95 -> 1.54). Scale posture: the
        # planner still applies its build-side size conditions, and
        # AQE skew-join splitting handles SHJ as well as SMJ since
        # Spark 3.2 — this is the optimization guide's own baseline
        # recommendation, not a local[32] tune.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # test parquet carries TIMESTAMP(NANOS); read as long, convert in
        # sources.tables.load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
        # Janino compiles a stage's generated code only on a miss in this
        # JVM-wide cache (keyed by the code text). Each rule query keeps
        # over a dozen classes in use (the 8 benchmark rules' first drain
        # compiles 143), so the default of 100 entries thrashed and every
        # micro-batch of every rule query compiled its stages again. A
        # small projection's class costs about 10 KB of metaspace
        # (measured over 1,600 classes), so 1,000 of them hold about
        # 10 MB; a rule's whole-stage classes are larger, and a 120 s
        # daemon benchmark run peaked no higher than with 100 entries.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # A stage's class name carries its whole-stage codegen id, which
        # counts the stages below it. A streaming no-data batch reads an
        # empty local relation in place of the parse stage, so every
        # stage above it got a new id and compiled again: 7 classes per
        # rule query at its first no-data batch, 9 once a one-partition
        # rule query runs as one stage; 2 without the id in the name.
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.ui.enabled", "false")
        # progress bars write \r frames to stdout — they polluted the
        # driver's bench tail capture in r1/r2; keep stdout JSON-clean
        .config("spark.ui.showConsoleProgress", "false")
    )
    return builder.getOrCreate()
