"""Every script under scripts/ must import cleanly.

The scripts are not a package and no other test runs most of them, so a
script left importing a deleted module would otherwise go unnoticed.
Each is loaded by file path under a module name other than
``__main__``, so its ``__main__`` guard keeps ``main`` from running."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest

SCRIPTS = sorted((Path(__file__).resolve().parent.parent / "scripts").glob("*.py"))


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.stem)
def test_script_imports(path):
    spec = importlib.util.spec_from_file_location(f"script_{path.stem}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
