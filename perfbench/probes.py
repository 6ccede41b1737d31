"""Host probes stamped beside each run's metrics (reported, never gated).

The same two probes as bench.py's _StealSampler and _membw_probe, kept
here so the benchmark does not depend on a script other changes edit:
hypervisor steal from /proc/stat, sampled once a second, and
single-thread memcpy bandwidth.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np


def _cpu_fields() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class StealSampler:
    """Share of CPU time lost to hypervisor steal, one sample a second."""

    def __init__(self) -> None:
        self.samples: list[float] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        prev = _cpu_fields()
        while not self._stop.wait(1.0):
            cur = _cpu_fields()
            d = [b - a for a, b in zip(prev, cur)]
            prev = cur
            if sum(d):
                self.samples.append(d[7] / sum(d))  # field 8 = steal

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5.0)
        return False

    def stats(self) -> dict[str, float]:
        s = self.samples or [0.0]
        return {"steal_avg_share": sum(s) / len(s), "steal_max_share": max(s)}


def membw_gbps(nbytes: int = 100_000_000, reps: int = 3) -> float:
    """Single-thread memcpy bandwidth in GB/s (median of reps)."""
    src = np.ones(nbytes, dtype=np.uint8)
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        src.copy()
        times.append(time.perf_counter() - t0)
    return nbytes / 1e9 / sorted(times)[len(times) // 2]


def host_state() -> dict[str, float]:
    la1, la5, _ = os.getloadavg()
    return {"nproc": len(os.sched_getaffinity(0)), "loadavg_1m": la1,
            "loadavg_5m": la5}
