"""Small measurement helpers shared by the workloads."""

from __future__ import annotations

import os


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile, q in [0, 1]."""
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (jiffies per state)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor took between two ``cpu_times``
    readings — the host noise every wall-clock figure here carries."""
    delta = [b - a for a, b in zip(before, after)]
    return 100.0 * delta[7] / max(1, sum(delta[:8]))


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/task/{p}/children") as f:
                kids = [int(x) for x in f.read().split()]
        except OSError:
            continue
        out += kids
        todo += kids
    return out


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this process plus its JVM child."""
    total_kb = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0
