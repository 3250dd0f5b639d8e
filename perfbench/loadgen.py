"""Seeded envelope load generator, kept outside the system under test.

Inputs are skewed the way a monitoring fleet is: Pareto-distributed
tenants, ~2,000 hostnames and ~20 services drawn with a head-heavy
skew, six metric names, and a ``component`` dimension on a minority
of metrics. Every event gets a distinct millisecond timestamp, so
first/last picks (delta, rate) are unambiguous for the oracle.
Out-of-order delivery stays within ``MAX_DISORDER_MS`` (< windowLag):
a share of events is delivered after later-stamped ones.

Files reach the source directory by atomic rename from a sibling
staging directory, so a streaming file source never sees a partial
file.
"""

from __future__ import annotations

import heapq
import json
import os
import random
import threading
import time

N_TENANTS = 40
N_HOSTS = 2000
N_SERVICES = 20
COMPONENTS = ("api", "db", "cache", "queue", "worker")
METRICS = (
    ("cpu.idle_perc", 0.25),
    ("mem.free_mb", 0.20),
    ("disk.used_pct", 0.10),
    ("net.in_bytes", 0.20),
    ("http_status", 0.15),
    ("log.errors", 0.10),
)
DISORDER_SHARE = 0.1
MAX_DISORDER_MS = 1000


class EnvelopeGen:
    """Deterministic event stream: the same seed yields the same
    sequence of (metric, tenant, dimensions, value) draws."""

    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed)
        self._names = [m for m, _ in METRICS]
        self._cum = []
        acc = 0.0
        for _, w in METRICS:
            acc += w
            self._cum.append(acc)
        self._counters: dict[tuple[str, str], int] = {}

    def event(self, ts_ms: int) -> dict:
        rng = self.rng
        r = rng.random() * self._cum[-1]
        name = next(n for n, c in zip(self._names, self._cum) if r < c)
        tenant = min(int(rng.paretovariate(1.16)) - 1, N_TENANTS - 1)
        host = int(N_HOSTS * rng.random() ** 2)
        svc = int(N_SERVICES * rng.random() ** 1.5)
        comp = rng.choice(COMPONENTS) if rng.random() < 0.3 else None
        hostname = f"host-{host:04d}"
        if name == "cpu.idle_perc" or name == "disk.used_pct":
            value = float(rng.randint(0, 100))
        elif name == "mem.free_mb":
            value = float(rng.randint(100, 16000))
        elif name == "http_status":
            value = float(rng.choice((200, 200, 200, 404, 500)))
        else:
            # counters: monotone per (metric, host), so delta/rate see
            # realistic non-negative progress
            key = (name, hostname)
            value = self._counters.get(key, rng.randint(0, 10_000))
            value += rng.randint(0, 5000 if name == "net.in_bytes" else 5)
            self._counters[key] = value
            value = float(value)
        return {
            "name": name,
            "tenant": f"tenant-{tenant:02d}",
            "hostname": hostname,
            "service": f"svc-{svc:02d}",
            "component": comp,
            "ts_ms": ts_ms,
            "value": value,
            "late": False,
        }

    def delivery_delay_ms(self) -> int:
        if self.rng.random() < DISORDER_SHARE:
            return self.rng.randint(1, MAX_DISORDER_MS)
        return 0


def to_json(ev: dict) -> str:
    """MetricEnvelope wire format (reference models/metric_envelope.go)."""
    dims = {"hostname": ev["hostname"], "service": ev["service"]}
    if ev["component"] is not None:
        dims["component"] = ev["component"]
    return json.dumps(
        {
            "metric": {
                "name": ev["name"],
                "dimensions": dims,
                "timestamp": float(ev["ts_ms"]),
                "value": ev["value"],
                "value_meta": {},
            },
            "meta": {"tenantId": ev["tenant"], "region": "bench"},
            "creation_time": ev["ts_ms"],
        },
        separators=(",", ":"),
    )


class FileDropper:
    """Writes JSONL files into ``source_dir`` by atomic rename."""

    def __init__(self, source_dir: str, staging_dir: str) -> None:
        os.makedirs(source_dir, exist_ok=True)
        os.makedirs(staging_dir, exist_ok=True)
        self.source_dir = source_dir
        self.staging_dir = staging_dir
        self.files = 0
        self.rows = 0
        # (time the file became visible, rows delivered so far)
        self.log: list[tuple[float, int]] = []

    def drop(self, events: list[dict]) -> None:
        name = f"part-{self.files:06d}.json"
        tmp = os.path.join(self.staging_dir, name)
        with open(tmp, "w") as f:
            f.write("\n".join(to_json(e) for e in events))
            f.write("\n")
        os.rename(tmp, os.path.join(self.source_dir, name))
        self.files += 1
        self.rows += len(events)
        self.log.append((time.time(), self.rows))


def generate_backlog(
    seed: int, n: int, start_ms: int, step_ms: int = 1
) -> list[dict]:
    """``n`` events stamped ``start_ms + i * step_ms`` in DELIVERY
    order: each event is delivered at its stamp plus its disorder
    delay."""
    gen = EnvelopeGen(seed)
    keyed = []
    for i in range(n):
        ts = start_ms + i * step_ms
        keyed.append((ts + gen.delivery_delay_ms(), i, gen.event(ts)))
    keyed.sort(key=lambda t: (t[0], t[1]))
    return [e for _, _, e in keyed]


def write_backlog(
    events: list[dict], dropper: FileDropper, files: int
) -> list[float]:
    """Drop the backlog as ``files`` equal JSONL files, all due at once;
    returns each file's lateness (ms past the common due time)."""
    due = time.time()
    late = []
    per = -(-len(events) // files)
    for k in range(0, len(events), per):
        dropper.drop(events[k : k + per])
        late.append((time.time() - due) * 1000.0)
    return late


class LiveFeeder(threading.Thread):
    """Open-loop feeder: every ``tick_ms`` it drops the events due by
    then, at ``rate`` events/s stamped with their scheduled wall-clock
    time. The schedule is fixed at start and never waits for the
    engine; ``lateness_ms`` records how far each drop ran behind it.

    Once ``published`` is set (every rule query has closed a window),
    a ``late_share`` of extra events is stamped ``late_by_ms`` in the
    past — far enough behind the watermark that the engine must drop
    them; they are flagged ``late`` for the oracle.
    """

    def __init__(
        self,
        seed: int,
        dropper: FileDropper,
        *,
        rate: int,
        tick_ms: int,
        late_share: float,
        late_by_ms: int,
        published: threading.Event,
        tracer,
    ) -> None:
        super().__init__(name="live-feeder", daemon=True)
        if rate > 1000:
            raise ValueError("rate above 1000/s would repeat timestamps")
        self.gen = EnvelopeGen(seed)
        self.dropper = dropper
        self.rate = rate
        self.tick_ms = tick_ms
        self.late_share = late_share
        self.late_by_ms = late_by_ms
        self.published = published
        self.tracer = tracer
        self.stop_evt = threading.Event()
        self.events: list[dict] = []
        self.lateness_ms: list[float] = []
        self.t0_ms = 0
        self.error: Exception | None = None

    def run(self) -> None:
        try:
            self._run()
        except Exception as e:  # surfaced by the caller after join
            self.error = e

    def _run(self) -> None:
        gen = self.gen
        self.t0_ms = int(time.time() * 1000) + 50
        pending: list[tuple[int, int, dict]] = []
        k = 0
        j = 0
        while True:
            j += 1
            due_ms = self.t0_ms + j * self.tick_ms
            stopping = self.stop_evt.is_set()
            if not stopping:
                wait = due_ms / 1000.0 - time.time()
                if wait > 0:
                    self.stop_evt.wait(wait)
                    stopping = self.stop_evt.is_set()
            if stopping:
                # flush: everything already scheduled is delivered, so
                # every generated event reaches the source
                due_ms = max(due_ms - self.tick_ms, self.t0_ms)
            while True:
                ts = self.t0_ms + (k * 1000) // self.rate
                if ts >= due_ms:
                    break
                ev = gen.event(ts)
                self.events.append(ev)
                heapq.heappush(pending, (ts + gen.delivery_delay_ms(), k, ev))
                if self.published.is_set() and gen.rng.random() < self.late_share:
                    late = gen.event(ts - self.late_by_ms)
                    late["late"] = True
                    self.events.append(late)
                    heapq.heappush(pending, (ts, -k - 1, late))
                k += 1
            batch = []
            while pending and (stopping or pending[0][0] < due_ms):
                batch.append(heapq.heappop(pending)[2])
            if batch:
                with self.tracer.span("drop", "loadgen", trace="feeder"):
                    self.dropper.drop(batch)
            if stopping:
                return
            self.lateness_ms.append(time.time() * 1000.0 - due_ms)
