"""Host self-report and process bookkeeping (Linux ``/proc``)."""

from __future__ import annotations

import os
import time

import numpy as np


def calibration_ms() -> float:
    """Median of 5 timings of a fixed numpy + Python workload.

    Read before and after the timed loop: a run whose two readings differ,
    or that reads far from other runs, was measured on a busy host.
    """
    rng = np.random.default_rng(0)
    a = rng.normal(size=(160, 160))
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        b = a
        for _ in range(20):
            b = np.tanh(b @ a)
        s = 0
        for i in range(100_000):
            s += i * i
        times.append((time.perf_counter() - t0) * 1e3)
    return float(np.median(times))


def loadavg() -> list[float]:
    return [float(x) for x in os.getloadavg()]


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid`` in MB, 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` in the process tree."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state != "Z"
