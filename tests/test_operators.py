"""As-of join and range join semantics on hand-computable data."""

from __future__ import annotations

import datetime as dt

from pysparkflow.operators.asof import asof_join
from pysparkflow.operators.rangejoin import range_join


def _ts(m, s=0):
    return dt.datetime(2024, 1, 1, 10, m, s)


def test_asof_backward_with_ties_and_missing(spark):
    left = spark.createDataFrame(
        [(1, _ts(10), "a"), (1, _ts(20), "b"), (2, _ts(5), "c")],
        "k long, lts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [(1, _ts(10), 100.0), (1, _ts(15), 200.0), (2, _ts(9), 300.0)],
        "k long, rts timestamp, val double",
    )
    out = {
        r["tag"]: (r["rts_right"], r["val_right"])
        for r in asof_join(left, right, "k", "lts", "rts").collect()
    }
    assert out["a"] == (_ts(10), 100.0)  # tie at equal ts matches (backward)
    assert out["b"] == (_ts(15), 200.0)  # latest prior
    assert out["c"] == (None, None)  # no right row at-or-before


def test_asof_does_not_leak_across_keys(spark):
    left = spark.createDataFrame([(1, _ts(30), "x")], "k long, lts timestamp, tag string")
    right = spark.createDataFrame([(2, _ts(10), 9.0)], "k long, rts timestamp, val double")
    row = asof_join(left, right, "k", "lts", "rts").collect()[0]
    assert row["val_right"] is None


def test_range_join_window_edges(spark):
    left = spark.createDataFrame(
        [(1, _ts(10), "err")], "k long, lts timestamp, tag string"
    )
    right = spark.createDataFrame(
        [
            (1, _ts(9, 59)),   # 1s before  -> in  [lts-60s, lts)
            (1, _ts(9, 0)),    # exactly lts-60s -> in (inclusive lower)
            (1, _ts(10, 0)),   # equal to lts -> excluded (half-open)
            (1, _ts(8, 59)),   # 61s before -> out
            (2, _ts(9, 30)),   # other key -> out
        ],
        "k long, rts timestamp",
    )
    got = sorted(
        r["rts"] for r in range_join(left, right, "k", "lts", "rts", 60).collect()
    )
    assert got == [_ts(9, 0), _ts(9, 59)]


def test_snapshot_diff_statuses(spark):
    from pysparkflow.operators.snapshot import snapshot_diff

    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    old = mk([(1, "a"), (2, "b"), (3, "c")])
    new = mk([(2, "b"), (3, "c CHANGED"), (4, "d")])
    got = {r["id"]: r["status"] for r in snapshot_diff(old, new).collect()}
    assert got == {1: "removed", 3: "changed", 4: "added"}  # 2 unchanged -> absent


def test_approx_quantiles_rank_error_bound(spark, sf_dir):
    # percentile_approx(accuracy=1000) guarantees rank error <= n/1000;
    # check each estimate's true rank is within that bound of its target
    # (the TIGHT bound; the registry entry's in-query envelope is 2x)
    import pyspark.sql.functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    vals = sorted(r["l_extendedprice"] for r in li.select("l_extendedprice").collect())
    n = len(vals)
    ps = [0.25, 0.5, 0.75, 0.99]
    ests = li.agg(
        F.percentile_approx("l_extendedprice", ps, 1000).alias("a")
    ).collect()[0]["a"]
    import bisect
    for q, est in zip(ps, ests):
        rank = bisect.bisect_left(vals, est)
        assert abs(rank - q * n) <= n / 1000 + 1, (est, rank, q * n)


def test_approx_quantiles_query_envelope(spark, sf_dir):
    # sketch-only registry entry (VERDICT r5 #1): each estimate must lie
    # inside the exact-percentile envelope at p ± 2*eps computed
    # INDEPENDENTLY here over the collected sorted values — the same
    # band the tolerance oracle (its registry QuerySpec) asserts via DuckDB
    from pysparkflow.relational.registry import QUERIES

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    vals = sorted(r["l_extendedprice"] for r in li.select("l_extendedprice").collect())
    n = len(vals)

    def interp(p):
        idx = p * (n - 1)
        lo, frac = int(idx), idx - int(idx)
        return vals[lo] if frac == 0 else vals[lo] * (1 - frac) + vals[lo + 1] * frac

    rows = {r["q"]: r for r in QUERIES["approx_quantiles"](spark, sf_dir).collect()}
    assert set(rows) == {"q25", "q50", "q75", "q99"}
    eps = 1.0 / 1000
    for name, p in (("q25", 0.25), ("q50", 0.5), ("q75", 0.75), ("q99", 0.99)):
        est = rows[name]["approx_pc"]
        assert interp(max(p - 2 * eps, 0.0)) <= est <= interp(min(p + 2 * eps, 1.0))


def test_approx_distinct_query_band(spark, sf_dir):
    # sketch-only registry entry (VERDICT r5 #1): estimates within the
    # 3-sigma (6%) band of exact counts computed independently here —
    # the same band the tolerance oracle asserts via DuckDB
    from pysparkflow.relational.registry import QUERIES

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    exact = {
        "orders": li.select("l_orderkey").distinct().count(),
        "parts": li.select("l_partkey").distinct().count(),
    }
    rows = {r["metric"]: r for r in QUERIES["approx_distinct"](spark, sf_dir).collect()}
    for m in ("orders", "parts"):
        assert abs(rows[m]["approx_distinct"] - exact[m]) / exact[m] <= 0.06


def test_apply_changelog_merge_matrix(spark):
    """Upsert existing, insert new, delete, later-seq-wins, untouched."""
    from pysparkflow.operators.merge import apply_changelog

    base = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0)], "k long, v double"
    )
    changes = spark.createDataFrame(
        [
            (1, 11.0, 100, "U"),   # update existing
            (5, 55.0, 101, "U"),   # insert new key
            (2, 0.0, 102, "D"),    # delete existing
            (3, 31.0, 103, "U"),   # superseded by...
            (3, 0.0, 104, "D"),    # ...a later delete
            (6, 66.0, 105, "D"),   # delete a key not in base: no row
        ],
        "k long, v double, seq long, op string",
    )
    got = {
        r["k"]: r["v"]
        for r in apply_changelog(
            base, changes, key_cols=["k"], payload_cols=["v"]
        ).collect()
    }
    assert got == {1: 11.0, 4: 40.0, 5: 55.0}


def test_apply_changelog_delete_then_reinsert(spark):
    from pysparkflow.operators.merge import apply_changelog

    base = spark.createDataFrame([(1, 1.0)], "k long, v double")
    changes = spark.createDataFrame(
        [(1, 0.0, 1, "D"), (1, 9.0, 2, "U")], "k long, v double, seq long, op string"
    )
    got = apply_changelog(base, changes, ["k"], ["v"]).collect()
    assert [(r["k"], r["v"]) for r in got] == [(1, 9.0)]


def test_apply_changelog_rejects_invalid_op(spark):
    """ADVICE r4: an op outside {'U','D'} must raise, not silently delete."""
    import pytest
    from pyspark.errors import PySparkException

    from pysparkflow.operators.merge import apply_changelog

    base = spark.createDataFrame([(1, 1.0)], "k long, v double")
    changes = spark.createDataFrame(
        [(1, 2.0, 1, "X")], "k long, v double, seq long, op string"
    )
    with pytest.raises(PySparkException, match="op must be 'U' or 'D'"):
        apply_changelog(base, changes, ["k"], ["v"]).collect()


def test_apply_changelog_rejects_null_op(spark):
    import pytest
    from pyspark.errors import PySparkException

    from pysparkflow.operators.merge import apply_changelog

    base = spark.createDataFrame([(1, 1.0)], "k long, v double")
    changes = spark.createDataFrame(
        [(1, 2.0, 1, None)], "k long, v double, seq long, op string"
    )
    with pytest.raises(PySparkException, match="NULL"):
        apply_changelog(base, changes, ["k"], ["v"]).collect()
