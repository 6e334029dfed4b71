"""Measurement helpers: percentiles with a sample floor, host probes,
and memory/CPU sampling of the Python + JVM process tree."""

from __future__ import annotations

import math
import os
import threading
import time

#: a percentile is reported only with at least this many samples beyond it
MIN_BEYOND = 10


def percentile(values, q: float):
    """``(value, n)`` for the ``q``-quantile (0 < q < 1) of ``values`` by
    linear interpolation, or ``None`` when fewer than ``MIN_BEYOND``
    samples lie beyond it (``n * (1 - q) < MIN_BEYOND``)."""
    xs = sorted(values)
    n = len(xs)
    if n == 0 or math.floor(n * (1 - q) + 1e-9) < MIN_BEYOND:
        return None
    pos = q * (n - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), n


def median(values):
    xs = sorted(values)
    if not xs:
        return None
    m = len(xs) // 2
    return xs[m] if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2


def cpu_ticks() -> list[int]:
    """Host-wide ``/proc/stat`` CPU ticks: user nice system idle iowait
    irq softirq steal."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except OSError:  # pragma: no cover - non-Linux
        return []


def host_probe() -> dict:
    """Load average, CPU ticks and a short single-core busy loop:
    recorded around each workload so a run on a contended host can be
    recognised."""
    t0 = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i * i
    probe = time.perf_counter() - t0
    try:
        load = [round(x, 2) for x in os.getloadavg()]
    except OSError:  # pragma: no cover - non-POSIX
        load = None
    return {"loadavg": load, "probe_s": round(probe, 4), "ticks": cpu_ticks()}


def steal_share(before: dict, after: dict) -> float | None:
    """Share of CPU time stolen by the hypervisor between two probes."""
    a, b = before.get("ticks"), after.get("ticks")
    if not a or not b:
        return None
    d = [y - x for x, y in zip(a, b)]
    return round(d[7] / max(1, sum(d)), 4)


def _proc_children(pid: int) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            out.append(int(name))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cpu_s(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


class TreeSampler:
    """Samples resident memory of this process and its children (the
    JVM) from a daemon thread; CPU seconds are read on demand."""

    def __init__(self, period_s: float = 0.2) -> None:
        self.period_s = period_s
        self.peak_kb = 0
        self._pids = [os.getpid()]
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def adopt_children(self) -> None:
        """Pick up child processes (call once the JVM is up)."""
        self._pids = [os.getpid()] + _proc_children(os.getpid())

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in self._pids))

    def cpu_s(self) -> float:
        return sum(_cpu_s(p) for p in self._pids)

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def __enter__(self) -> "TreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()
