"""Unit tests for the benchmark's host telemetry (perfbench/host.py).

Each perfbench run records the 1-minute load average, the share of CPU
time stolen by the hypervisor and a fixed canary's wall time next to its
metrics, so that a slow set of runs can be told apart from a host stall.
These tests pin that the probe reads real /proc numbers on a Linux host
and that the steal share is the tick-delta ratio over the run."""

from __future__ import annotations

import importlib.util
import os

_spec = importlib.util.spec_from_file_location(
    "perfbench_host",
    os.path.join(os.path.dirname(__file__), "..", "perfbench", "host.py"),
)
host = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(host)


def test_host_section_math():
    """Steal share derives from /proc/stat tick deltas over the run."""
    ticks = iter([(0, 10_000), (500, 20_000)])
    saved = host._cpu_ticks
    host._cpu_ticks = lambda: next(ticks)
    try:
        t = host.Telemetry()
        s = t.finish()
    finally:
        host._cpu_ticks = saved
    assert s["host.steal_pct"] == 5.0     # 100 * 500 / 10000
    assert s["host.load1"] >= 0.0
    assert s["host.canary_ms"] > 0.0


def test_host_probe_reads_this_linux_host():
    """The probe must return real /proc numbers here."""
    steal, total = host._cpu_ticks()
    assert total > 0 and 0 <= steal <= total
    s = host.Telemetry().finish()
    assert s["host.load1"] >= 0.0
    assert 0.0 <= s["host.steal_pct"] <= 100.0
    assert s["host.canary_ms"] > 0.0
