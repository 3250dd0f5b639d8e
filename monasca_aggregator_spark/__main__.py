"""The daemon entrypoint — the reference binary's CLI surface
(reference: main.go + config.yaml + aggregation-specifications.yaml):

    python -m monasca_aggregator_spark \
        --config config.yaml \
        --specs aggregation-specifications.yaml \
        [--source-dir DIR --sink-dir DIR] \
        [--checkpoint-dir DIR] [--duration SEC] [--cpus N]

With no --source-dir the engine consumes/produces Kafka exactly as the
reference does (config.yaml's consumerTopic/producerTopic/kafka.*).
With --source-dir it tails envelope-JSONL files from a directory and
writes aggregated envelope JSON files to --sink-dir — the broker-less
deployment mode (and what the smoke test drives). --duration bounds
the run for supervised restarts/tests; the default runs until
terminated, like the reference daemon.

A user of the reference switches engines by pointing this at their
EXISTING config + specification files — both loaders accept the
reference formats verbatim (config.py, specs.py).
"""

from __future__ import annotations

import argparse
import os
import sys


def main(argv: list[str] | None = None, *, stop_session: bool = True) -> int:
    """CLI body. ``stop_session=False`` lets in-process callers (the
    smoke test) keep their shared SparkSession — getOrCreate returns
    the active session, so stopping it here would tear theirs down."""
    ap = argparse.ArgumentParser(prog="monasca_aggregator_spark")
    ap.add_argument("--config", required=True, help="reference config.yaml")
    ap.add_argument(
        "--specs", required=True, help="aggregation-specifications.yaml"
    )
    ap.add_argument(
        "--source-dir",
        help="read envelope JSONL files from this dir instead of Kafka",
    )
    ap.add_argument(
        "--sink-dir",
        help="write aggregated envelope JSON here (requires --source-dir)",
    )
    ap.add_argument("--checkpoint-dir", default="/tmp/monasca-spark-ckpt")
    ap.add_argument(
        "--duration",
        type=float,
        default=None,
        help="stop after this many seconds (default: run forever)",
    )
    ap.add_argument(
        "--cpus",
        type=int,
        default=None,
        help="local cores (default: SPARK_GRAFT_CPUS, else the CPUs "
        "this process may run on)",
    )
    ap.add_argument(
        "--emit-sql",
        action="store_true",
        help="print each rule compiled to ONE portable Spark SQL "
        "statement (sql_compile) and exit — run the YAML on any SQL "
        "endpoint with no Python on the path",
    )
    args = ap.parse_args(argv)
    if bool(args.source_dir) != bool(args.sink_dir):
        ap.error("--source-dir and --sink-dir must be used together")

    from monasca_aggregator_spark.config import (
        EngineConfig,
        build_continuous_pipeline,
        state_partitions,
    )
    from monasca_aggregator_spark.session import get_spark
    from monasca_aggregator_spark.specs import load_specs_from_yaml

    config = EngineConfig.from_yaml(args.config)
    specs = load_specs_from_yaml(args.specs)

    if args.emit_sql:
        from monasca_aggregator_spark.sql_compile import spec_to_sql

        for spec in specs:
            print(f"-- rule: {spec.name}")
            print(spec_to_sql(spec, config.window_size_sec) + ";\n")
        return 0

    # size to this machine: get_spark's own fallback is local[32]
    cpus = (
        args.cpus
        or int(os.environ.get("SPARK_GRAFT_CPUS", 0))
        or len(os.sched_getaffinity(0))
    )
    spark = get_spark("monasca-aggregator", cpus=cpus)

    source = sink = None
    if args.source_dir:
        from monasca_aggregator_spark.sources.envelope import (
            read_envelope_json,
        )
        from monasca_aggregator_spark.sources.kafka import envelopes_to_json

        def source():
            return read_envelope_json(spark, args.source_dir, streaming=True)

        def sink(plan, spec):
            return (
                envelopes_to_json(plan)
                .select("value")  # text sink wants one string column
                .writeStream.format("text")
                .option("path", f"{args.sink_dir}/{spec.name}")
                .option(
                    "checkpointLocation",
                    f"{args.checkpoint_dir}/{spec.name}",
                )
                .outputMode("append")
                .start()
            )

    # awaitAnyTermination also reports queries that ended before this
    # run started on a shared session; wait only on this run's queries
    spark.streams.resetTerminated()
    queries = build_continuous_pipeline(
        spark,
        config,
        specs,
        checkpoint_dir=args.checkpoint_dir,
        source=source if args.source_dir else None,
        sink=sink if args.source_dir else None,
    )
    print(
        f"started {len(queries)} aggregation rule(s); "
        f"window={config.window_size_sec}s lag={config.window_lag_sec}s "
        f"state_partitions={state_partitions(spark, len(specs))}/rule",
        file=sys.stderr,
    )
    try:
        # returns (or raises the failed query's exception) as soon as
        # ANY rule query ends, so one failed rule ends the run instead
        # of going unnoticed behind a healthy one
        if args.duration is not None:
            spark.streams.awaitAnyTermination(args.duration)
        else:
            spark.streams.awaitAnyTermination()
    finally:
        _drain_and_stop(queries)
        if stop_session:
            spark.stop()
    return 0


def _drain_and_stop(queries, grace_sec: float = 60.0) -> None:
    """Stop the rule queries BETWEEN micro-batches.

    ``q.stop()`` interrupts the stream-execution thread; if a
    ``FileStreamSink.addBatch`` is in flight the interrupt aborts it,
    and the aborted batch's uncommitted part files remain visible in
    the sink directory until the abort's cleanup finishes — after
    ``main()`` has already returned.  The reference's contract is
    publish-then-commit (server.go:222-258): readers never observe
    output that wasn't committed.  Honor it by waiting for the
    current trigger to go idle before stopping, so the final batch
    either commits fully or never starts.  Each query stops as soon as
    it is idle; ``grace_sec`` is one deadline shared by all of them, so
    a busy or wedged batch gets hard-stopped at the deadline rather
    than hanging shutdown, however many rules are running.
    """
    import time

    deadline = time.monotonic() + grace_sec
    pending = list(queries)
    while pending:
        hard_stop = time.monotonic() >= deadline
        busy = [q for q in pending if not hard_stop and _trigger_active(q)]
        for q in pending:
            if q not in busy:
                q.stop()
        pending = busy
        if pending:
            time.sleep(0.1)
    # surface (bounded) the sinks' final commits before returning
    for q in queries:
        try:
            q.awaitTermination(30)
        except Exception:
            pass


def _trigger_active(q) -> bool:
    try:
        return q.isActive and q.status.get("isTriggerActive", False)
    except Exception:
        return False  # query already terminated under us


if __name__ == "__main__":
    raise SystemExit(main())
