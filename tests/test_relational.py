"""Registry contract tests: every query runs and matches its DuckDB oracle
at sf0.001 (the full-scale gate runs tools/oracle_check.py at sf0.01)."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from pysparkflow.relational.registry import (
    ORACLE_SQL,
    QUERIES,
    SPECS,
    TABLES,
    QuerySpec,
)

# fast oracle-paired queries worth running in the unit suite
SPOT_CHECK = [
    "groupagg_pricing",
    "edge_symmetrize",
    "semi_join",
    "anti_join",
    "topk_per_group",
    "hash_sample",
    "rollup",
    "events_hourly",
    "sessionize",
    "bfs_distances",
    "dedup_exact",
    "text_quality",
    "lang_id",
    "token_totals",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(9)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
        else:
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def test_every_query_has_callable_and_oracle_keys():
    """Every entry has exactly one oracle: the equality oracles
    (ORACLE_SQL) and the tolerance specs are disjoint and together cover
    QUERIES; a scale-pinned spec is an equality oracle. The QuerySpec
    constructor refuses both oracle kinds, neither, or a pinned
    tolerance."""
    tolerance = {k for k, s in SPECS.items() if s.tolerance is not None}
    assert not set(ORACLE_SQL) & tolerance
    assert set(ORACLE_SQL) | tolerance == set(QUERIES)
    assert all(callable(fn) for fn in QUERIES.values())
    pinned = {k for k, s in SPECS.items() if s.pinned_sf is not None}
    assert pinned and pinned <= set(ORACLE_SQL)
    assert len(QUERIES) >= 30
    build = QUERIES["groupagg_pricing"]
    band = {"sql": "SELECT 1 AS k", "keys": ["k"]}
    for bad in (
        {"oracle": "SELECT 1", "tolerance": band},
        {},
        {"tolerance": band, "pinned_sf": "sf0.01"},
    ):
        with pytest.raises(ValueError):
            QuerySpec("bad", build, **bad)


def test_every_memo_read_is_declared():
    """A spec's ``memos`` names exactly the session memos its build reads:
    the ``shared(spark, "<memo>", ...)`` calls reachable from the build
    through the registry's module-level functions, read off the source
    (no Spark). bench.py clears and orders samples by the declarations,
    so an undeclared read would time a memo lookup or a hidden build."""
    import ast
    import inspect

    import pysparkflow.relational.registry as reg

    tree = ast.parse(inspect.getsource(reg))
    funcs = {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}

    def direct(fn):
        memos, refs = set(), set()
        for node in ast.walk(fn):
            if isinstance(node, ast.Call) and getattr(node.func, "id", "") == "shared":
                memos.add(node.args[1].value)
            elif isinstance(node, ast.Name) and node.id in funcs:
                refs.add(node.id)
        return memos, refs

    graph = {name: direct(fn) for name, fn in funcs.items()}

    def reads(name, seen):
        if name in seen:
            return set()
        seen.add(name)
        memos, refs = graph[name]
        return memos.union(*(reads(r, seen) for r in refs))

    for name, spec in SPECS.items():
        assert spec.build.__name__ in funcs, name
        assert reads(spec.build.__name__, set()) == set(spec.memos), name
    # the scan did find the registry's three memos
    assert {m for s in SPECS.values() for m in s.memos} == {"graph", "flow", "pairs"}


@pytest.mark.parametrize("name", SPOT_CHECK)
def test_query_matches_oracle(spark, sf_dir, duck, name):
    sdf = QUERIES[name](spark, sf_dir).toPandas()
    odf = duck.sql(ORACLE_SQL[name]).df()
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert len(sdf) == len(odf)
    a, b = _normalize(sdf), _normalize(odf)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)
