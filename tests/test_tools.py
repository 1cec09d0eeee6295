"""Every script under tools/ still imports against the package.

The tools run by hand (oracle gate, scale harnesses, bench candidate
selection), so a package change that breaks one would otherwise go
unnoticed until the next manual run. Loading a tool executes its
module body only: ``main`` is not called, and no Spark session starts.
The oracle gate's ``main`` also runs once, on three entries, so a
changed registry or call signature fails here too.
"""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

import pytest
from pyspark import SparkContext

REPO = Path(__file__).resolve().parents[1]
TOOLS = sorted((REPO / "tools").glob("*.py"))


def _load(path, monkeypatch):
    name = f"_tool_{path.stem}"
    spec = importlib.util.spec_from_file_location(name, str(path))
    mod = importlib.util.module_from_spec(spec)
    monkeypatch.setitem(sys.modules, name, mod)
    monkeypatch.setattr(sys, "path", list(sys.path))
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("path", TOOLS, ids=[p.stem for p in TOOLS])
def test_tool_imports_and_defines_main(path, monkeypatch):
    active = SparkContext._active_spark_context
    mod = _load(path, monkeypatch)
    assert callable(getattr(mod, "main", None))
    assert SparkContext._active_spark_context is active


def test_oracle_check_main_passes_each_oracle_kind(spark, sf_dir, monkeypatch):
    """oracle_check.main() end to end on a filtered argv: an equality
    entry, a tolerance entry and an sf0.01-pinned entry (skipped at
    sf0.001) all pass, and a filtered run writes no ORACLE_CHECK_*.json
    artifact."""
    from pysparkflow.engine.cache import clear_shared

    mod = _load(REPO / "tools" / "oracle_check.py", monkeypatch)
    before = {p: p.stat().st_mtime_ns for p in REPO.glob("ORACLE_CHECK_*.json")}
    argv = ["oracle_check.py", sf_dir]
    argv += ["groupagg_pricing", "approx_distinct", "max_flow"]
    monkeypatch.setattr(sys, "argv", argv)
    # main() asks get_spark for 8 shuffle partitions; the session is shared
    shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        assert mod.main() == 0
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", shuffle)
        clear_shared("graph", "flow")
    after = {p: p.stat().st_mtime_ns for p in REPO.glob("ORACLE_CHECK_*.json")}
    assert after == before
