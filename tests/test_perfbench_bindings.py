"""The benchmark's span bindings name real engine attributes.

``perfbench/workloads.py:install_spans`` wraps engine functions and
methods by name (``tracer.wrap(owner, "attr", ...)``). A refactor that
renames or removes one of them would otherwise surface only when a
traced benchmark run fails. Here ``install_spans`` runs against a fake
tracer that records each ``(owner, attr)`` and patches nothing, and
every recorded attribute must exist and be callable. No Spark job runs.
"""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

PERFBENCH = Path(__file__).resolve().parent.parent / "perfbench"


class RecordingTracer:
    """Stands in for ``perfbench/tracing.Tracer``: records, never patches."""

    def __init__(self):
        self.bindings: list[tuple[object, str]] = []

    def wrap(self, owner: object, attr: str, name: str, store_walk: bool = False) -> None:
        self.bindings.append((owner, attr))


def _load_workloads():
    """``perfbench/workloads.py`` loaded by path. Its sibling imports
    (``checks``, ``tracing``, …) resolve from the perfbench directory and
    are dropped from ``sys.modules`` again afterwards."""
    before = set(sys.modules)
    sys.path.insert(0, str(PERFBENCH))
    try:
        spec = importlib.util.spec_from_file_location(
            "perfbench_workloads", PERFBENCH / "workloads.py"
        )
        module = importlib.util.module_from_spec(spec)
        sys.modules[spec.name] = module  # its dataclasses look it up there
        spec.loader.exec_module(module)
        return module
    finally:
        sys.path.remove(str(PERFBENCH))
        for name in set(sys.modules) - before:
            path = getattr(sys.modules[name], "__file__", None) or ""
            if Path(path).parent == PERFBENCH:
                del sys.modules[name]


def test_install_spans_binds_existing_callables():
    tracer = RecordingTracer()
    _load_workloads().install_spans(tracer)
    assert tracer.bindings
    for owner, attr in tracer.bindings:
        label = f"{getattr(owner, '__name__', owner)}.{attr}"
        assert hasattr(owner, attr), label
        assert callable(getattr(owner, attr)), label
