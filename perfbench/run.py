"""Aggregator benchmark: backlog replay and live publish delay through
the daemon path (``build_continuous_pipeline``).

    python3 perfbench/run.py --workload replay --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The line before it is a detail record: sample counts,
CPU count, Spark version and seed. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"


def _prepare_env(work: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``.
    Must run before pyspark is imported."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    heap = os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    # spark-submit first runs a short-lived launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # the driver heap starts at its maximum: otherwise when G1 grows it
    # decides peak RSS, which then swings by a third between identical runs
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Xms{heap} -Djava.io.tmpdir={tmp} '
        f'-Dderby.system.home={tmp} -XX:-UsePerfData" pyspark-shell'
    )


class Ctx:
    """One benchmark run: arguments, work directory, tracer and the
    current Spark session (restarted once per set-up cycle)."""

    def __init__(self, args, work: Path) -> None:
        from spans import Tracer

        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.cpus = len(os.sched_getaffinity(0))
        self.work = work
        self.tracer = Tracer(self.traced)
        self.spark = None
        self.listener = None
        self.session_starts: list[float] = []

    def restart(self, cpus: int | None = None):
        """(Re)start the session with ``get_spark(cpus=...)`` pinned to
        the CPU count — the default would fall back to local[32]."""
        from monasca_aggregator_spark.session import get_spark

        with self.tracer.span("get_spark", "session"):
            if self.spark is not None:
                self.spark.stop()
            t = time.perf_counter()
            self.spark = get_spark(cpus=cpus or self.cpus)
            self.session_starts.append(time.perf_counter() - t)
        if self.listener is not None:
            self.spark.streams.addListener(self.listener)
        return self.spark

    def close(self) -> None:
        """Stop the session and the JVM it runs in, and wait for it."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


# a run that has not finished by then is stuck: abort it, JVM
# included, inside the 180 s a benchmark run may take
WATCHDOG_S = 175


def _watchdog() -> None:
    from measure import descendants

    print(f"run exceeded {WATCHDOG_S} s; aborting", file=sys.stderr, flush=True)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    os._exit(3)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("replay", "live"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "monasca_aggregator_spark" / "config.py").is_file():
        print(f"monasca_aggregator_spark not found under {ROOT}", file=sys.stderr)
        return 2
    work = WORK / args.workload
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)
    sys.path.insert(0, str(ROOT))

    import pyspark

    import workloads
    from measure import cpu_times, metric, peak_rss_mb, steal_pct

    watchdog = threading.Timer(WATCHDOG_S, _watchdog)
    watchdog.daemon = True
    watchdog.start()
    ctx = Ctx(args, work)
    cpu_before = cpu_times()
    try:
        result = getattr(workloads, args.workload)(ctx)
        result["detail"]["peak_rss_mb"] = peak_rss_mb()
    finally:
        ctx.close()
    result["detail"]["host_steal_pct"] = steal_pct(cpu_before, cpu_times())
    if ctx.traced:
        ctx.tracer.dump(str(WORK / f"spans-{args.workload}-{args.seed}.jsonl"))
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": ctx.cpus, "spark": pyspark.__version__,
        **result["detail"],
    }
    if ctx.traced:
        metrics = result["per_layer"]
    else:
        metrics = dict(result["end_to_end"])
        metrics["peak_rss_mb"] = metric(detail["peak_rss_mb"], "MB")
    attempted, failed = result["attempted"], result["failed"]
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }))
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
