"""The two timed workloads.

``replay``: a fixed, seeded JSONL backlog drained by the whole runtime
(``build_continuous_pipeline``, file source, availableNow, text sink)
over the eight streaming rules — the restart-after-outage case.

``live``: an open-loop feeder at a fixed rate below replay capacity,
events stamped with wall-clock time, the heartbeat on — the
steady-state service, measured by how long after window end + lag
each (rule, window) is committed.

Every set-up cycle restarts the session, so ``setup_s`` is a median
over cycles; the first cycle also pays the JVM launch.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time

from monasca_aggregator_spark.config import EngineConfig

import loadgen
import probes
from oracle import Oracle, compare
from rules import STREAMING_RULES
from measure import metric, quantile
from spans import ProgressSpans, iso_s
from streams import await_all, file_rows, read_published, start_pipeline, stop_all

WINDOW_LAG_S = 2

# replay: 20k envelopes 3 ms apart (six 10 s windows), starting 20 s
# before a UTC midnight so the traced run's backfill probe touches two
# day partitions; one trigger reads the whole backlog, a second
# (no-data) one flushes the closed windows. The first (cold) drain is
# the warm-up: checked, but not timed.
REPLAY_N = 20_000
REPLAY_STEP_MS = 3
REPLAY_FILES = 4
REPLAY_WINDOW_S = 10
REPLAY_START_MS = 1_700_006_400_000 - 20_000
MIN_MEASURED_DRAINS = 2

# live: 2 s windows so a run yields 8 rules x seconds/2 delay samples;
# late events are stamped far enough back to sit behind the watermark
# even while the engine runs several batches behind
LIVE_WINDOW_S = 2
LIVE_RATE = 200
LIVE_TICK_MS = 200
LIVE_WARMUP_S = 5
LIVE_WARMUP_N = 1_000
LIVE_LATE_SHARE = 0.03
LIVE_LATE_BY_MS = 60_000
LIVE_SETUP_CYCLES = 3
LIVE_PUBLISH_TIMEOUT_S = 60


def progress_dicts(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def _lag_rows(progress: dict[str, list[dict]], delivered, t_lo: float,
              t_hi: float, step: float = 0.1) -> list[float]:
    """Rows delivered but not yet processed by the slowest query,
    sampled every ``step`` s in [t_lo, t_hi]."""
    done = {
        q: sorted(
            (iso_s(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0) / 1000.0,
             file_rows(p))
            for p in ps
        )
        for q, ps in progress.items()
    }
    samples = []
    t = t_lo
    while t <= t_hi:
        worst = 0
        for batches in done.values():
            processed = sum(n for end, n in batches if end <= t)
            worst = max(worst, delivered(t) - processed)
        samples.append(worst)
        t += step
    return samples


def layer_from_progress(progress: dict[str, list[dict]], lag: list[float]) -> dict:
    """pipeline / state / observability per-layer metrics from the
    rule queries' StreamingQueryProgress events. Scan amplification is
    the rows all rule queries read over the rows the furthest one read:
    how many times each envelope is scanned."""
    allp = [p for ps in progress.values() for p in ps]
    read = [sum(file_rows(p) for p in ps) for ps in progress.values()]
    dur = lambda k: sum((p.get("durationMs") or {}).get(k, 0) for p in allp)  # noqa: E731
    ops = [s for p in allp for s in p.get("stateOperators") or ()]
    observed = lambda k: sum(  # noqa: E731
        ((p.get("observedMetrics") or {}).get(k) or {}).get("n", 0) for p in allp
    )
    peak_state = lambda k: sum(  # noqa: E731
        max((s.get(k) or 0 for p in ps for s in p.get("stateOperators") or ()), default=0)
        for ps in progress.values()
    )
    return {
        "pipeline.queries": metric(len(progress), "count"),
        "pipeline.microbatches": metric(len(allp), "count"),
        "pipeline.trigger_ms_p50": metric(
            statistics.median(p["durationMs"].get("triggerExecution", 0) for p in allp), "ms"),
        "pipeline.planning_ms": metric(dur("queryPlanning"), "ms"),
        "pipeline.add_batch_ms": metric(dur("addBatch"), "ms"),
        "pipeline.offset_commit_ms": metric(dur("walCommit") + dur("commitOffsets"), "ms"),
        "pipeline.source_lag_rows": metric(statistics.median(lag) if lag else 0.0, "rows"),
        "pipeline.scan_amplification": metric(sum(read) / max(read), "ratio"),
        "state.rows_total": metric(peak_state("numRowsTotal"), "rows"),
        "state.memory_bytes": metric(peak_state("memoryUsedBytes"), "bytes"),
        "state.commit_ms": metric(sum(s.get("commitTimeMs") or 0 for s in ops), "ms"),
        "state.rows_dropped_by_watermark": metric(
            sum(s.get("numRowsDroppedByWatermark") or 0 for s in ops), "rows"),
        "observability.in_messages": metric(observed("in_messages"), "count"),
        "observability.out_messages": metric(observed("out_messages"), "count"),
    }


def _delays_summary(delays_ms: list[float]) -> dict:
    return {
        "publish_delay_p50_ms": metric(statistics.median(delays_ms), "ms"),
        "publish_delay_p90_ms": metric(quantile(delays_ms, 0.9), "ms"),
    }


REPLAY_CFG = EngineConfig.from_dict({"windowSize": REPLAY_WINDOW_S,
                                     "windowLag": WINDOW_LAG_S, "heartbeat": False})


def _replay_backlog(ctx, src: str) -> tuple[list[dict], list[float]]:
    """Write the seeded replay backlog into ``src``; returns the events
    and each file's lateness."""
    with ctx.tracer.span("generate_backlog", "loadgen"):
        events = loadgen.generate_backlog(ctx.seed, REPLAY_N, REPLAY_START_MS, REPLAY_STEP_MS)
        dropper = loadgen.FileDropper(src, str(ctx.work / "staging"))
        return events, loadgen.write_backlog(events, dropper, REPLAY_FILES)


def replay(ctx) -> dict:
    tr = ctx.tracer
    cfg = REPLAY_CFG
    src = str(ctx.work / "src")
    events, lateness = _replay_backlog(ctx, src)
    window_ms = REPLAY_WINDOW_S * 1000
    oracle = Oracle(events, STREAMING_RULES, window_ms)
    max_ts = max(e["ts_ms"] for e in events)
    closed = {w for w in oracle.windows() if w + window_ms + WINDOW_LAG_S * 1000 <= max_ts}

    setups, rates, delays, drains = [], [], [], []
    checks = {"attempted": 0, "failed": 0, "by_kind": {}, "examples": []}
    progress = lag = None
    # traced: one cold warm-up drain, then one drain with the listener on
    cycles = 2 if ctx.traced else None
    t_measure = None
    cycle = 0
    while True:
        measuring = cycle > 0
        if ctx.traced and measuring:
            ctx.listener = ProgressSpans(tr, None)
        out = str(ctx.work / f"out{cycle}")
        t0 = time.time()
        with tr.span("cycle", "pipeline", trace=f"cycle{cycle}") as sid:
            ctx.restart()
            if ctx.listener is not None:
                ctx.listener.parent = sid
            queries, active = start_pipeline(
                ctx, STREAMING_RULES, cfg, src, out,
                available_now=True,
            )
            setups.append(active - t0)
            await_all(queries)
        t_end = time.time()
        rows, published = read_published(out, STREAMING_RULES, oracle.metric_to_rule)
        r = compare(oracle, STREAMING_RULES, rows, closed)
        for k in ("attempted", "failed"):
            checks[k] += r[k]
        for k, v in r["by_kind"].items():
            checks["by_kind"][k] = checks["by_kind"].get(k, 0) + v
        checks["examples"] += r["examples"]
        if measuring:
            t_measure = t_measure or active
            drains.append(t_end - active)
            rates.append(REPLAY_N / (t_end - active))
            # historical windows: the earliest a result could appear is
            # when the catch-up started
            delays += [(t - max(active, (w + window_ms) / 1000.0 + WINDOW_LAG_S)) * 1000.0
                       for (_, w), t in published.items() if w in closed]
            progress = {q.name: progress_dicts(q) for q in queries}
            lag = _lag_rows(progress, lambda t: REPLAY_N, active, t_end)
        cycle += 1
        if cycles is not None:
            if cycle >= cycles:
                break
        elif measuring and len(drains) >= MIN_MEASURED_DRAINS and \
                time.time() - t_measure >= ctx.seconds:
            break

    detail = {
        "envelopes": REPLAY_N, "rules": len(STREAMING_RULES),
        "setup_samples": len(setups), "drains": len(drains),
        "drain_s": [round(d, 3) for d in drains],
        "delay_samples": len(delays), "oracle": checks,
    }
    result = {
        "attempted": checks["attempted"], "failed": checks["failed"], "detail": detail,
        "end_to_end": {
            "setup_s": metric(statistics.median(setups), "s"),
            "env_per_s": metric(statistics.median(rates), "1/s"),
            **_delays_summary(delays),
            "ok_frac": metric(1.0 - checks["failed"] / checks["attempted"], "ratio"),
        },
    }
    if ctx.traced:
        per_layer = layer_from_progress(progress, lag)
        per_layer["loadgen.envelopes"] = metric(REPLAY_N, "count")
        per_layer["loadgen.late_p99_ms"] = metric(quantile(lateness, 0.99), "ms")
        # listener callbacks' share of the traced drain
        per_layer["trace.overhead_pct"] = metric(100.0 * ctx.listener.busy_s / drains[0], "%")
        per_layer["trace.listener_s"] = metric(ctx.listener.busy_s, "s")
        ctx.listener = None
        extra = probes.run_all(ctx, src, events, REPLAY_WINDOW_S, (src, REPLAY_CFG, REPLAY_N))
        _merge_probe(ctx, result, per_layer, extra)
        per_layer.update(probes.self_times(tr))
        result["per_layer"] = per_layer
    return result


def _merge_probe(ctx, result: dict, per_layer: dict, extra: dict) -> None:
    per_layer["session.start_s"] = metric(statistics.median(ctx.session_starts), "s")
    per_layer.update(extra["per_layer"])
    result["attempted"] += extra["attempted"]
    result["failed"] += extra["failed"]
    result["detail"]["probes"] = extra["detail"]


def live(ctx) -> dict:
    tr = ctx.tracer
    # reference defaults otherwise: windowLag 2 s, heartbeat on
    cfg = EngineConfig.from_dict({"windowSize": LIVE_WINDOW_S, "windowLag": WINDOW_LAG_S})
    src = str(ctx.work / "src")
    os.makedirs(src, exist_ok=True)
    setups = []
    marks = {"start": time.time()}
    # set-up cycles before the last run the same rules as a bounded
    # drain: the first over a small backlog (JIT warm-up for the data
    # path), the others over an empty directory; the last set-up cycle
    # starts the live pipeline
    quiet = EngineConfig.from_dict({"windowSize": LIVE_WINDOW_S,
                                    "windowLag": WINDOW_LAG_S, "heartbeat": False})
    warm = str(ctx.work / "warm")
    loadgen.write_backlog(
        loadgen.generate_backlog(ctx.seed + 1, LIVE_WARMUP_N, REPLAY_START_MS),
        loadgen.FileDropper(warm, str(ctx.work / "staging")), 1,
    )
    empty = str(ctx.work / "empty")
    os.makedirs(empty, exist_ok=True)
    # a traced run reports no setup_s, so it skips the empty cycles
    sources = [warm] + [empty] * (0 if ctx.traced else LIVE_SETUP_CYCLES - 2) + [src]
    for cycle, cycle_src in enumerate(sources):
        last = cycle_src == src
        if last and ctx.traced:
            ctx.listener = ProgressSpans(tr, None)
        out = str(ctx.work / f"out{cycle}")
        t0 = time.time()
        with tr.span("cycle", "pipeline", trace=f"cycle{cycle}"):
            ctx.restart()
            queries, active = start_pipeline(
                ctx, STREAMING_RULES, cfg if last else quiet, cycle_src, out,
                available_now=not last,
            )
        setups.append(active - t0)
        if not last:
            await_all(queries)
        marks[f"cycle{cycle}"] = time.time()
    marks["setup_done"] = time.time()

    window_ms, lag_ms = LIVE_WINDOW_S * 1000, WINDOW_LAG_S * 1000
    published_evt = threading.Event()
    dropper = loadgen.FileDropper(src, str(ctx.work / "staging"))
    feeder = loadgen.LiveFeeder(
        ctx.seed, dropper, rate=LIVE_RATE, tick_ms=LIVE_TICK_MS,
        late_share=LIVE_LATE_SHARE, late_by_ms=LIVE_LATE_BY_MS, published=published_evt,
        tracer=tr,
    )
    with tr.span("live_run", "pipeline") as run_sid:
        if ctx.listener is not None:
            ctx.listener.parent = run_sid
        feeder.start()
        while not feeder.t0_ms:
            time.sleep(0.01)
        t_w = feeder.t0_ms / 1000.0 + LIVE_WARMUP_S
        t_m = t_w + ctx.seconds
        last_end_ms = math.floor((t_m * 1000 - lag_ms) / window_ms) * window_ms
        try:
            while True:
                time.sleep(0.2)
                if feeder.error is not None:
                    raise feeder.error
                wms = []
                for q in queries:
                    if q.exception() is not None:
                        raise RuntimeError(f"query {q.name} failed: {q.exception()}")
                    lp = q.lastProgress
                    if lp is None:
                        wms.append(0)
                        continue
                    lp = json.loads(lp.json)
                    wm = (lp["eventTime"] or {}).get("watermark")
                    wms.append(iso_s(wm) * 1000 if wm else 0)
                # late events only once EVERY rule query has closed the
                # run's first window: each query drops rows behind its
                # own watermark, and a query with none yet drops nothing
                if min(wms) >= feeder.t0_ms + window_ms:
                    published_evt.set()
                now = time.time()
                if now >= t_m and min(wms) >= last_end_ms:
                    break
                if now >= t_m + LIVE_PUBLISH_TIMEOUT_S:
                    break
        finally:
            feeder.stop_evt.set()
            feeder.join(30)
            progress = {q.name: progress_dicts(q) for q in queries}
            stop_all(queries)
    if feeder.error is not None:
        raise feeder.error
    marks["t_w"], marks["t_m"], marks["stopped"] = t_w, t_m, time.time()

    events = feeder.events
    oracle = Oracle(events, STREAMING_RULES, window_ms)
    first_w = feeder.t0_ms - feeder.t0_ms % window_ms
    must = set(range(first_w, last_end_ms - window_ms + 1, window_ms))
    rows, published = read_published(out, STREAMING_RULES, oracle.metric_to_rule)
    checks = compare(oracle, STREAMING_RULES, rows, must)
    sampled = {w for w in must if w + window_ms + lag_ms >= t_w * 1000}
    delays = [t * 1000.0 - (w + window_ms + lag_ms)
              for (_, w), t in published.items() if w in sampled]

    rates = []
    for ps in progress.values():
        starts = sorted((iso_s(p["timestamp"]), file_rows(p)) for p in ps)
        before_w = [i for i, (s, _) in enumerate(starts) if s <= t_w]
        before_m = [i for i, (s, _) in enumerate(starts) if s <= t_m]
        if before_w and before_m and before_m[-1] > before_w[-1]:
            i1, i2 = before_w[-1], before_m[-1]
            rows_in = sum(n for _, n in starts[i1 + 1 : i2 + 1])
            rates.append(rows_in / (starts[i2][0] - starts[i1][0]))
    log = dropper.log

    def delivered(t: float) -> int:
        n = 0
        for when, rows_so_far in log:
            if when > t:
                break
            n = rows_so_far
        return n

    lag = _lag_rows(progress, delivered, t_w, t_m)
    half = len(lag) // 2
    n_late = sum(1 for e in events if e["late"])
    detail = {
        "rate": LIVE_RATE, "window_s": LIVE_WINDOW_S, "lag_s": WINDOW_LAG_S,
        "rules": len(STREAMING_RULES), "envelopes": len(events), "late_injected": n_late,
        "setup_samples": len(setups), "delay_samples": len(delays),
        "sampled_windows": len(sampled),
        "lag_rows_first_half_p50": statistics.median(lag[:half]) if half else None,
        "lag_rows_second_half_p50": statistics.median(lag[half:]) if half else None,
        "feeder_late_p99_ms": quantile(feeder.lateness_ms, 0.99),
        "oracle": checks,
        "phase_s": {k: round(v - marks["start"], 2) for k, v in marks.items()},
    }
    if not delays or not rates:
        raise RuntimeError(f"live run published nothing measurable: {detail}")
    result = {
        "attempted": checks["attempted"], "failed": checks["failed"], "detail": detail,
        "end_to_end": {
            "setup_s": metric(statistics.median(setups), "s"),
            "env_per_s": metric(min(rates), "1/s"),
            **_delays_summary(delays),
            "ok_frac": metric(1.0 - checks["failed"] / checks["attempted"], "ratio"),
        },
    }
    if ctx.traced:
        per_layer = layer_from_progress(progress, lag)
        per_layer["loadgen.envelopes"] = metric(len(events), "count")
        per_layer["loadgen.late_p99_ms"] = metric(quantile(feeder.lateness_ms, 0.99), "ms")
        # listener callbacks' share of the traced live run
        run_span = next(s for s in tr.spans if s["id"] == run_sid)
        per_layer["trace.overhead_pct"] = metric(
            100.0 * ctx.listener.busy_s / (run_span["end"] - run_span["start"]), "%")
        per_layer["trace.listener_s"] = metric(ctx.listener.busy_s, "s")
        ctx.listener = None
        # the single-threaded baseline is the replay job on every workload
        replay_src = str(ctx.work / "replay_src")
        _replay_backlog(ctx, replay_src)
        extra = probes.run_all(ctx, src, [dict(e, late=False) for e in events],
                               LIVE_WINDOW_S, (replay_src, REPLAY_CFG, REPLAY_N))
        _merge_probe(ctx, result, per_layer, extra)
        per_layer.update(probes.self_times(tr))
        result["per_layer"] = per_layer
    return result
