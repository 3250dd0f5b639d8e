"""End-to-end daemon smoke test: the `python -m
monasca_aggregator_spark` entrypoint run in-process against
reference-format config + specification YAML files and a file-based
envelope source — the broker-less deployment mode. Covers argument
validation, YAML loading, pipeline startup, bounded run, and that
aggregated envelope JSON actually lands in the sink directory."""

from __future__ import annotations

import json
import time
from pathlib import Path

import pytest


def _write_yaml_files(tmp_path):
    (tmp_path / "config.yaml").write_text(
        "windowSize: 2\n"
        "windowLag: 1\n"
        "consumerTopic: metrics\n"
        "producerTopic: metrics\n"
        # availableNow-less bounded file run: heartbeat stays ON (the
        # daemon default) — the rate source keeps advancing processing
        # time so lagged windows publish during the bounded run
    )
    (tmp_path / "specs.yaml").write_text(
        "aggregationSpecifications:\n"
        "  - name: sum_metric2\n"
        "    aggregatedMetricName: metric2.sum\n"
        "    filteredMetricName: metric2\n"
        "    function: sum\n"
        "    groupedDimensions: [service]\n"
    )


def test_cli_requires_paired_source_sink(tmp_path):
    from monasca_aggregator_spark.__main__ import main

    _write_yaml_files(tmp_path)
    with pytest.raises(SystemExit):
        main(
            [
                "--config", str(tmp_path / "config.yaml"),
                "--specs", str(tmp_path / "specs.yaml"),
                "--source-dir", str(tmp_path / "src"),
            ]
        )


def test_cli_sizes_the_session_to_the_machine(tmp_path, monkeypatch):
    """Cores come from --cpus, then SPARK_GRAFT_CPUS, then the CPUs the
    process may run on — never get_spark's local[32] fallback."""
    import os

    from monasca_aggregator_spark import session
    from monasca_aggregator_spark.__main__ import main

    class Sized(Exception):
        pass

    def get_spark(app_name, *, cpus=None):
        raise Sized(cpus)

    monkeypatch.setattr(session, "get_spark", get_spark)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1, 2})
    _write_yaml_files(tmp_path)
    argv = [
        "--config", str(tmp_path / "config.yaml"),
        "--specs", str(tmp_path / "specs.yaml"),
    ]

    def cpus_for(extra, env):
        if env is None:
            monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
        else:
            monkeypatch.setenv("SPARK_GRAFT_CPUS", env)
        with pytest.raises(Sized) as e:
            main(argv + extra)
        return e.value.args[0]

    assert cpus_for(["--cpus", "2"], "5") == 2
    assert cpus_for([], "5") == 5
    assert cpus_for([], None) == 3


def test_cli_file_mode_end_to_end(spark, tmp_path, capsys):
    import sys

    sys.path.insert(0, "tools")
    import publisher

    from monasca_aggregator_spark.__main__ import main

    _write_yaml_files(tmp_path)
    src = tmp_path / "src"
    sink = tmp_path / "sink"
    src.mkdir()
    # two batches a window apart so at least one window closes + lags out
    t0 = int(time.time() * 1000) - 20_000
    for b in range(4):
        lines = publisher.make_envelopes(
            name="metric2", value=2.0, now_ms=t0 + b * 2000, tenant="t1"
        )
        (src / f"batch{b}.jsonl").write_text("\n".join(lines) + "\n")

    rc = main(
        [
            "--config", str(tmp_path / "config.yaml"),
            "--specs", str(tmp_path / "specs.yaml"),
            "--source-dir", str(src),
            "--sink-dir", str(sink),
            "--checkpoint-dir", str(tmp_path / "ckpt"),
            "--duration", "25",
            "--cpus", "8",
        ],
        stop_session=False,
    )
    assert rc == 0
    # one rule on the shared local[8] session: every core is a state
    # partition
    assert "state_partitions=8/rule" in capsys.readouterr().err

    # Read the sink through its _spark_metadata commit log, not a raw
    # glob: a bounded-run stop can abort an in-flight batch whose
    # uncommitted part files are still being cleaned up when main()
    # returns (publish-then-commit, reference server.go:222-258) —
    # committed files are the sink's actual output contract.
    from monasca_aggregator_spark.sources.sinks import committed_sink_files

    out_lines = []
    for path in committed_sink_files(str(sink / "sum_metric2")):
        p = Path(path.removeprefix("file:"))
        out_lines += [
            ln for ln in p.read_text().splitlines() if ln.strip()
        ]
    assert out_lines, "no aggregated envelopes published"
    env = json.loads(out_lines[0])
    m = env["metric"]
    assert m["name"] == "metric2.sum"
    assert "service" in m["dimensions"]
    # 2 hosts x value 2.0 summed per service per window
    assert m["value"] == pytest.approx(4.0)
    assert env["meta"]["tenantId"] == "t1"


def test_cli_ends_when_a_rule_query_fails(spark, tmp_path, monkeypatch):
    """One rule's query failing after start must end main() with that
    query's exception, even while an earlier rule's query stays
    healthy — not at the --duration deadline, and not never."""
    import sys
    import threading

    from pyspark.sql import functions as F

    sys.path.insert(0, "tools")
    import publisher

    from monasca_aggregator_spark import config
    from monasca_aggregator_spark.__main__ import main

    _write_yaml_files(tmp_path)
    with open(tmp_path / "config.yaml", "a") as f:
        # no heartbeat: the healthy query idles between micro-batches,
        # so main()'s drain-and-stop of it returns at once
        f.write("heartbeat: false\n")
    with open(tmp_path / "specs.yaml", "a") as f:
        f.write(
            "  - name: fails\n"
            "    aggregatedMetricName: metric2.max\n"
            "    filteredMetricName: metric2\n"
            "    function: max\n"
        )
    src = tmp_path / "src"
    src.mkdir()
    # the later batch moves the watermark past the earlier window, so
    # that window is published (and the failing rule raises) at once
    t0 = int(time.time() * 1000) - 20_000
    lines = publisher.make_envelopes(now_ms=t0, tenant="t1")
    lines += publisher.make_envelopes(now_ms=t0 + 10_000, tenant="t1")
    (src / "batch0.jsonl").write_text("\n".join(lines) + "\n")

    build = config.build_continuous_pipeline

    def with_failing_rule(spark_, cfg, specs, *, sink, **kw):
        def failing_sink(plan, spec):
            if spec.name == "fails":
                # raise on the first published row, inside the query
                plan = plan.withColumn(
                    "value",
                    F.coalesce(
                        F.raise_error(F.lit("injected rule failure")).cast(
                            "double"
                        ),
                        F.col("value"),
                    ),
                )
            return sink(plan, spec)

        return build(spark_, cfg, specs, sink=failing_sink, **kw)

    monkeypatch.setattr(config, "build_continuous_pipeline", with_failing_rule)
    outcome = {}

    def run():
        try:
            outcome["rc"] = main(
                [
                    "--config", str(tmp_path / "config.yaml"),
                    "--specs", str(tmp_path / "specs.yaml"),
                    "--source-dir", str(src),
                    "--sink-dir", str(tmp_path / "sink"),
                    "--checkpoint-dir", str(tmp_path / "ckpt"),
                    "--duration", "300",
                ],
                stop_session=False,
            )
        except Exception as e:  # noqa: BLE001 — the outcome under test
            outcome["error"] = e

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(90)
    try:
        assert not t.is_alive(), "main() kept waiting after a rule failed"
        assert "injected rule failure" in str(outcome.get("error"))
    finally:
        for q in spark.streams.active:
            q.stop()
        t.join(120)


def test_drain_and_stop_shares_one_grace_period():
    """Shutdown waits for busy rule queries against ONE deadline, not
    one grace period per query: queries that never go idle are all
    hard-stopped when it passes, and an idle one stops at once."""
    from monasca_aggregator_spark.__main__ import _drain_and_stop

    class FakeQuery:
        def __init__(self, busy):
            self.busy = busy
            self.isActive = True
            self.stopped_at = None

        @property
        def status(self):
            return {"isTriggerActive": self.busy}

        def stop(self):
            self.isActive = False
            self.stopped_at = time.monotonic()

        def awaitTermination(self, timeout=None):
            return True

    idle = FakeQuery(busy=False)
    busy = [FakeQuery(busy=True) for _ in range(3)]
    t0 = time.monotonic()
    _drain_and_stop([*busy, idle], grace_sec=0.5)
    elapsed = time.monotonic() - t0
    assert 0.5 <= elapsed < 1.0, elapsed
    assert idle.stopped_at - t0 < 0.2
    assert all(q.stopped_at is not None for q in busy)


def test_emit_sql_prints_each_rule_and_exits():
    """--emit-sql: the reference YAML comes out as one SQL statement
    per rule with no Spark session started."""
    import io
    from contextlib import redirect_stdout

    from monasca_aggregator_spark.__main__ import main

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(
            [
                "--config", "/root/reference/config.yaml",
                "--specs",
                "/root/reference/aggregation-specifications.yaml",
                "--emit-sql",
            ],
            stop_session=False,
        )
    out = buf.getvalue()
    assert rc == 0
    assert out.count("-- rule: ") == 5
    assert out.count("FROM agg;") == 5  # one final SELECT per rule
