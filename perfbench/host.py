"""Host sizing and interference readings.

The session is sized from the machine it runs on (``nproc`` cores and
MemTotal), not from fixed cluster-sized defaults. Each run records the
host regime — CPU steal and iowait over the run, load average, clock
speed and governor at both ends (``bench.py``'s readings) — so a noisy
neighbour is visible next to the numbers it disturbed.
"""

from __future__ import annotations

import os

from bench import _cpu_stat as cpu_jiffies
from bench import _host_regime as regime


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


class Interference:
    """Steal/iowait share of all CPU time between ``start`` and
    ``stop``, with the host regime at both ends."""

    def start(self) -> None:
        self._j0, self._r0 = cpu_jiffies(), regime()

    def stop(self) -> dict[str, object]:
        j1 = cpu_jiffies()
        d = {k: j1[k] - self._j0[k] for k in j1}
        tot = sum(d.values()) or 1
        return {"cpu_steal_pct": round(100 * d.get("steal", 0) / tot, 2),
                "cpu_iowait_pct": round(100 * d.get("iowait", 0) / tot, 2),
                "regime_start": self._r0, "regime_end": regime()}


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0
