"""Order statistics and host probes shared by every workload."""

from __future__ import annotations

import math
import os
import statistics
import time

import numpy as np


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``
    percent of the samples at or below it (rank ``ceil(p/100 * n)``)."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < p <= 100:
        raise ValueError(f"percentile {p} outside (0, 100]")
    ordered = sorted(values)
    return ordered[max(1, math.ceil(p / 100.0 * len(ordered))) - 1]


def summary(values, p: float | None = None) -> dict:
    """Median and quartiles (``statistics.quantiles``, exclusive method),
    plus the nearest-rank ``p`` percentile, with the sample count."""
    n = len(values)
    if n == 0:
        return {"n": 0}
    out = {"n": n, "median": statistics.median(values)}
    if n >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
        out.update(q1=q1, q3=q3)
    else:
        out.update(q1=values[0], q3=values[0])
    if p is not None:
        out[f"p{p:g}"] = percentile(values, p)
    return out


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def steal_ticks() -> int:
    """Cumulative hypervisor steal ticks (USER_HZ) over all CPUs."""
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("cpu "):
                return int(line.split()[8])
    raise ValueError("no aggregate cpu line in /proc/stat")


def _status_mb(field: str) -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no {field} in /proc/self/status")


def peak_rss_mb() -> float:
    """Peak RSS of this process in MiB: the driver's Python heap, the
    engine's driver-side state and the runtime with its libraries."""
    return _status_mb("VmHWM")


# Host calibration. On a shared host every CPU-time figure of a run moves
# with the co-tenants' load (the same query's CPU time by up to half from
# one run to the next), and so does the CPU time of a fixed kernel run
# beside it. Gated CPU figures are therefore scaled by CAL_REF_MS / the
# run's median calibration time: to what they would read on a host where
# the kernel takes CAL_REF_MS. The value is fixed once (about what the
# kernel takes on a 4-core x86-64 VM); only its ratio between runs counts.
CAL_REF_MS = 5.0
_CAL_RNG = np.random.default_rng(12345)
_CAL_SORTED = np.sort(_CAL_RNG.integers(0, 1 << 20, 20000))
_CAL_KEYS = _CAL_RNG.integers(0, 1 << 20, 20000)
_CAL_WORDS = ("alpha beta gamma Delta epsilon zeta eta Theta iota kappa "
              "lambda mu " * 20).split()


def calibration_ms() -> float:
    """Driver-thread CPU milliseconds of one pass of a fixed kernel in
    the mix a driver-local query runs: numpy searches, scatter-adds and
    partial sorts over small arrays, and Python dict and string work.
    It calls nothing of the engine, so no engine change moves it."""
    cpu0 = time.thread_time()
    for i in range(20):
        pos = np.searchsorted(_CAL_SORTED, _CAL_KEYS[i * 1000:(i + 1) * 1000])
        acc = np.zeros(4096)
        np.add.at(acc, pos & 4095, 1.0)
        top = np.argpartition(acc, -10)[-10:]
        sorted({int(t): float(acc[t]) for t in top}.items(), key=lambda x: (-x[1], x[0]))
        counts: dict[str, int] = {}
        for w in _CAL_WORDS:
            w = w.lower()
            counts[w] = counts.get(w, 0) + 1
    return 1000 * (time.thread_time() - cpu0)


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by this process and all its live descendants:
    the driver, the JVM it launched and the JVM's Python workers. Unlike
    wall time it does not grow while other tenants hold the processors."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                # fields after the parenthesised command name
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while scanning
        pid = int(entry)
        children.setdefault(int(rest[1]), []).append(pid)
        ticks[pid] = sum(int(x) for x in rest[11:15])  # utime stime cutime cstime
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")
