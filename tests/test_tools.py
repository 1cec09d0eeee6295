"""Every script under tools/ still imports against the package.

The tools run by hand (oracle gate, scale harnesses, bench candidate
selection), so a package change that breaks one would otherwise go
unnoticed until the next manual run. Loading a tool executes its
module body only: ``main`` is not called, and no Spark session starts.
"""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

import pytest
from pyspark import SparkContext

TOOLS = sorted((Path(__file__).resolve().parents[1] / "tools").glob("*.py"))


@pytest.mark.parametrize("path", TOOLS, ids=[p.stem for p in TOOLS])
def test_tool_imports_and_defines_main(path, monkeypatch):
    name = f"_tool_{path.stem}"
    spec = importlib.util.spec_from_file_location(name, str(path))
    mod = importlib.util.module_from_spec(spec)
    monkeypatch.setitem(sys.modules, name, mod)
    monkeypatch.setattr(sys, "path", list(sys.path))
    active = SparkContext._active_spark_context
    spec.loader.exec_module(mod)
    assert callable(getattr(mod, "main", None))
    assert SparkContext._active_spark_context is active
