"""Time spans measured twice: on the wall clock, and less the time
the host kept this machine's CPUs from running.

When the benchmark runs in a virtual machine whose CPUs share a host
with other tenants, the hypervisor preempts the machine's runnable
CPUs while the host is busy, and the guest kernel counts that time per
CPU as ``steal`` in /proc/stat; the same program then takes longer on
the wall clock for reasons outside it. On bare metal steal stays 0 and
the two times agree. A sampler thread reads every CPU's
steal every PERIOD_S seconds. A span's steal-adjusted time is its wall
time less, for every sampling interval in it, the largest steal of any
one CPU in that interval: a Spark stage or a driver-side step waits
for its slowest thread, so the most-preempted CPU sets the delay.
"""

from __future__ import annotations

import bisect
import os
import threading
import time

import stats

PERIOD_S = 0.1
TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> list[tuple[int, int]]:
    """(busy, steal) clock ticks of every CPU since boot, from
    /proc/stat."""
    out = []
    with open("/proc/stat", encoding="ascii") as f:
        for line in f:
            if not line.startswith("cpu"):
                break
            if line.startswith("cpu "):
                continue
            user, nice, system, _idle, _iowait, irq, softirq, steal = (int(x) for x in line.split()[1:9])
            out.append((user + nice + system + irq + softirq, steal))
    return out


class _Sampler:
    """Per-CPU (busy, steal) ticks every PERIOD_S seconds, kept with
    their times, in a daemon thread started by the first Span."""

    def __init__(self):
        self.times: list[float] = []
        self.ticks: list[list[tuple[int, int]]] = []
        self._lock = threading.Lock()
        self.sample()
        threading.Thread(target=self._loop, daemon=True).start()

    def sample(self) -> float:
        t, ticks = time.perf_counter(), cpu_ticks()
        with self._lock:
            self.times.append(t)
            self.ticks.append(ticks)
        return t

    def _loop(self) -> None:
        while True:
            time.sleep(PERIOD_S)
            self.sample()

    def between(self, t0: float, t1: float) -> list[list[tuple[int, int]]]:
        """The samples taken from t0 to t1."""
        with self._lock:
            lo = bisect.bisect_left(self.times, t0)
            hi = bisect.bisect_right(self.times, t1)
            return self.ticks[lo:hi]


_SAMPLER: _Sampler | None = None


class Span:
    """A span that starts when made; ``stop()`` returns its wall
    seconds, its steal-adjusted seconds and the host's share of the
    CPU time its busy CPUs wanted."""

    def __init__(self):
        global _SAMPLER
        if _SAMPLER is None:
            _SAMPLER = _Sampler()
        self.t0 = _SAMPLER.sample()

    def stop(self) -> tuple[float, float, float]:
        t1 = _SAMPLER.sample()
        wall = t1 - self.t0
        samples = _SAMPLER.between(self.t0, t1)
        steal_s = TICK_S * stats.critical_steal_ticks([[s for _, s in cpus] for cpus in samples])
        busy = sum(b for b, _ in samples[-1]) - sum(b for b, _ in samples[0])
        steal = sum(s for _, s in samples[-1]) - sum(s for _, s in samples[0])
        return wall, max(0.0, wall - steal_s), stats.steal_share(busy, steal)
