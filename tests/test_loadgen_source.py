"""Python DataSource (`metric_envelopes`): batch/stream determinism and
end-to-end flow into the real envelope parser + spec aggregation."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from monasca_aggregator_spark.sources.envelope import parse_envelopes
from monasca_aggregator_spark.sources.loadgen_source import (
    make_envelope_json,
    register,
)


def _registered(spark):
    # registration is idempotent per session; re-register defensively
    register(spark)
    return spark


def test_batch_read_is_deterministic_and_grid_shaped(spark):
    _registered(spark)
    df = (
        spark.read.format("metric_envelopes")
        .option("rows_per_partition", "60")
        .option("partitions", "3")
        .load()
    )
    rows = df.collect()
    assert len(rows) == 180
    # pure function of (partition, offset): re-read is byte-identical
    again = {
        (r.partition, r.offset): r.value
        for r in spark.read.format("metric_envelopes")
        .option("rows_per_partition", "60")
        .option("partitions", "3")
        .load()
        .collect()
    }
    for r in rows:
        assert again[(r.partition, r.offset)] == r.value
        assert r.value == make_envelope_json(
            r.partition,
            r.offset,
            {
                "names": ["cpu.idle", "mem.used", "net.rx"],
                "start_ms": 1_704_067_200_000,
                "step_ms": 1000,
                "tenant": "t0",
            },
        )
    env = parse_envelopes(df)
    grid = env.groupBy("name").count().collect()
    assert {r["name"] for r in grid} == {"cpu.idle", "mem.used", "net.rx"}
    assert all(r["count"] == 60 for r in grid)
    # dimensions + value_meta + tenant survive the wire format
    one = env.first()
    assert one.dimensions["service"] == "loadgen"
    assert one.value_meta["src"].startswith("p")
    assert one.tenant_id == "t0"


def test_stream_offsets_advance_and_match_batch_content(spark, tmp_path):
    """Micro-batches advance by rows_per_batch per partition; the union
    of all streamed rows over offsets [0, N) is exactly the batch
    relation over the same range — the replayability contract that
    makes the source usable for exactly-once tests."""
    _registered(spark)
    stream = (
        spark.readStream.format("metric_envelopes")
        .option("partitions", "2")
        .option("rows_per_batch", "25")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("loadgen_stream")
        .option(
            "checkpointLocation", str(tmp_path / "ckpt")
        )
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            n = spark.table("loadgen_stream").count()
            if n >= 100:  # ≥2 micro-batches × 2 partitions × 25 rows
                break
            time.sleep(0.5)
        q.stop()
        q.awaitTermination(30)
    finally:
        if q.isActive:
            q.stop()
    streamed = spark.table("loadgen_stream")
    got = {
        (r.partition, r.offset): r.value for r in streamed.collect()
    }
    assert len(got) >= 100
    max_off = max(o for _, o in got)
    # offsets are gap-free per partition up to the high-water mark of
    # the last COMPLETE micro-batch
    for p in (0, 1):
        offs = sorted(o for (pp, o) in got if pp == p)
        assert offs == list(range(len(offs)))
    batch = (
        spark.read.format("metric_envelopes")
        .option("rows_per_partition", str(max_off + 1))
        .option("partitions", "2")
        .load()
        .collect()
    )
    expected = {(r.partition, r.offset): r.value for r in batch}
    for k, v in got.items():
        assert expected[k] == v


def test_stream_restart_resumes_offsets_without_dup_or_gap(
    spark, tmp_path
):
    """Kill the query, restart from the SAME checkpoint: offsets
    continue where the last committed batch ended — per partition the
    union of both runs is gap-free and duplicate-free (the Kafka-source
    offset contract the reader implements)."""
    _registered(spark)
    out_dir = str(tmp_path / "out")

    def start():
        stream = (
            spark.readStream.format("metric_envelopes")
            .option("partitions", "2")
            .option("rows_per_batch", "20")
            # the generator's high-water mark must survive the restart
            # (a broker would hold real offsets; state_dir stands in) —
            # without it the restarted counter would REGRESS below the
            # checkpoint and re-serve ranges (r5 flake, fixed)
            .option("state_dir", str(tmp_path / "src_state"))
            .load()
        )
        # file sink: the fault-tolerant sink whose commit log makes
        # restart-from-checkpoint exactly-once (memory sinks cannot
        # recover from a checkpoint at all)
        return (
            stream.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )

    def committed_files():
        """The file sink's exactly-once contract lives in its
        _spark_metadata commit log — an interrupted batch can leave
        ORPHAN parquet files in the directory, which metadata-aware
        readers never see. Read the committed list explicitly so the
        assertion tests the contract, not directory-listing luck.

        Compaction contract: every spark.sql.streaming.fileSink.log
        .compactInterval-th batch (default 10) writes `N.compact`
        RE-LISTING every prior entry; the per-batch files it
        supersedes may still sit beside it, so naively concatenating
        all log files double-counts every pre-compaction batch
        (observed as a flaky duplicate-row failure whenever a run
        happened to cross batch 9). Read the LATEST .compact plus
        only the batch files after it — exactly what Spark's own
        metadata-aware reader does."""
        import json
        import os

        meta = os.path.join(out_dir, "_spark_metadata")
        if not os.path.isdir(meta):
            return []
        entries = []  # (batch_id, is_compact, filename)
        for name in os.listdir(meta):
            if name.startswith("."):
                continue
            stem, _, suffix = name.partition(".")
            if not stem.isdigit():
                continue
            entries.append((int(stem), suffix == "compact", name))
        compacts = [e for e in entries if e[1]]
        floor = max(c[0] for c in compacts) if compacts else -1
        keep = sorted(
            e for e in entries if (e[1] and e[0] == floor) or e[0] > floor
        )
        files = []
        for _, _, name in keep:
            with open(os.path.join(meta, name)) as f:
                for line in f:
                    line = line.strip()
                    if line.startswith("{"):
                        rec = json.loads(line)
                        if "path" in rec:
                            files.append(rec["path"])
        return files

    def rows():
        files = committed_files()
        if not files:
            return []
        return spark.read.parquet(*files).collect()

    q = start()
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if len(rows()) >= 80:
                break
            time.sleep(0.5)
    finally:
        q.stop()
        q.awaitTermination(30)
    first = {(r.partition, r.offset) for r in rows()}
    assert len(first) >= 80
    q2 = start()
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if len(rows()) >= len(first) + 40:
                break
            time.sleep(0.5)
    finally:
        q2.stop()
        q2.awaitTermination(30)
    all_rows = rows()
    combined = {(r.partition, r.offset) for r in all_rows}
    # exactly-once across the restart: no duplicate (partition, offset)
    assert len(all_rows) == len(combined)
    # and no gap: per partition the union is a contiguous prefix
    for p in (0, 1):
        offs = sorted(o for (pp, o) in combined if pp == p)
        assert offs == list(range(len(offs)))
        assert len(offs) > len([o for (pp, o) in first if pp == p])


def test_streamed_envelopes_drive_the_spec_aggregation(spark, tmp_path):
    """The source's JSON flows through parse_envelopes into the REAL
    windowed spec aggregation in a foreachBatch-free append plan, and
    the closed windows match the batch plan over the same offsets."""
    from monasca_aggregator_spark.models import AggregationSpec
    from monasca_aggregator_spark.operators.aggregate import (
        build_aggregation,
    )

    _registered(spark)
    spec = AggregationSpec(
        name="loadgen_rule",
        aggregated_metric_name="loadgen.sum",
        filtered_metric_name="cpu.idle",
        function="sum",
        grouped_dimensions=("host",),
    )
    # The batch reference must cover MORE offsets than the stream can
    # possibly consume before the poll loop stops it: the stream
    # advances rows_per_batch per trigger with no cap, so on a loaded
    # box extra micro-batches close windows past a small batch range
    # and the exact-match assertion below sees windows the reference
    # never computed (observed as a box-load-dependent flake r11).
    # 30_000 rows/partition = 200 triggers of headroom; the generator
    # is deterministic, so enlarging the range changes no shared value.
    batch_env = parse_envelopes(
        spark.read.format("metric_envelopes")
        .option("rows_per_partition", "30000")
        .option("partitions", "2")
        .load()
    )
    expect = {
        (r.window_ts_ms, r.dimensions["host"]): r.value
        for r in build_aggregation(batch_env, spec, 60).collect()
    }
    assert expect  # the grid produces closed windows
    stream_env = parse_envelopes(
        spark.readStream.format("metric_envelopes")
        .option("partitions", "2")
        .option("rows_per_batch", "150")
        .load()
    )
    agg = build_aggregation(stream_env, spec, 60, 0)
    q = (
        agg.writeStream.format("memory")
        .queryName("loadgen_agg")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            if spark.table("loadgen_agg").count() >= 3:
                break
            time.sleep(0.5)
        q.stop()
        q.awaitTermination(30)
    finally:
        if q.isActive:
            q.stop()
    streamed = spark.table("loadgen_agg").collect()
    assert len(streamed) >= 3
    for r in streamed:
        assert expect.get((r.window_ts_ms, r.dimensions["host"])) == r.value, r


def test_stream_reader_hwm_persists_and_guards_regression(tmp_path):
    """Driver-side unit pin of the restart semantics: a reader seeded
    from state_dir continues past the recorded high-water mark; a
    reader WITHOUT state_dir that gets handed a checkpointed start
    beyond its counter raises instead of silently re-serving the
    stale range."""
    import pytest

    from monasca_aggregator_spark.sources.loadgen_source import (
        _StreamReader,
    )

    sd = str(tmp_path / "state")
    r1 = _StreamReader({"rows_per_batch": "20", "state_dir": sd})
    assert r1.initialOffset() == {"offset": 0}
    assert r1.latestOffset() == {"offset": 20}
    assert r1.latestOffset() == {"offset": 40}
    # restart: new instance resumes at the recorded mark, not zero
    r2 = _StreamReader({"rows_per_batch": "20", "state_dir": sd})
    assert r2.latestOffset() == {"offset": 60}
    parts = r2.partitions({"offset": 40}, {"offset": 60})
    assert [(p.start, p.end) for p in parts] == [(40, 60), (40, 60)]

    # no state_dir: the regressed plan fails loudly
    r3 = _StreamReader({"rows_per_batch": "20"})
    r3.latestOffset()
    with pytest.raises(ValueError, match="state_dir"):
        r3.partitions({"offset": 40}, {"offset": 20})
