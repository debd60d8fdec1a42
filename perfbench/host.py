"""Host telemetry recorded next to each run's metrics, so that a
disagreement between two sets of runs can be told apart from a host
stall: the 1-minute load average, the share of CPU time stolen by the
hypervisor during the run, and the wall time of a fixed CPU canary."""

from __future__ import annotations

import os
import time


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields[:8])


def canary_ms() -> float:
    """Wall time of a fixed single-threaded integer loop."""
    t = time.perf_counter()
    acc = 0
    for i in range(300_000):
        acc = (acc + i * i) % 1_000_003
    return (time.perf_counter() - t) * 1000.0


class Telemetry:
    def __init__(self):
        self.load1 = os.getloadavg()[0]
        self.canary_ms = canary_ms()
        self._ticks = _cpu_ticks()
        self.steal_pct = 0.0

    def finish(self) -> dict[str, float]:
        steal, total = _cpu_ticks()
        d_total = total - self._ticks[1]
        if d_total > 0:
            self.steal_pct = 100.0 * (steal - self._ticks[0]) / d_total
        return {
            "host.load1": self.load1,
            "host.steal_pct": self.steal_pct,
            "host.canary_ms": self.canary_ms,
        }


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of process ``pid``, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
