"""Round-5c units: label propagation, temporal SCD2-as-of semantics,
unpivot shape. Hand-computed on tiny constructed graphs/tables; the
sf0.01 oracle entries cover corpus shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from pysparkflow.graph.labelprop import community_sizes, label_propagation


def _sym(spark, pairs):
    df = spark.createDataFrame(pairs, "src long, dst long")
    return df.union(df.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def test_label_propagation_two_cliques(spark):
    # two triangles joined by one bridge edge: LPA must give each
    # triangle one label and not merge them across the bridge
    tri1 = [(1, 2), (2, 3), (1, 3)]
    tri2 = [(4, 5), (5, 6), (4, 6)]
    bridge = [(3, 4)]
    labels = label_propagation(_sym(spark, tri1 + tri2 + bridge), rounds=4)
    got = {r["vertex"]: r["label"] for r in labels.collect()}
    assert len(got) == 6
    # each triangle internally agrees
    assert got[1] == got[2] == got[3]
    assert got[4] == got[5] == got[6]
    assert got[1] != got[4]


def test_label_propagation_deterministic_ties(spark):
    # a 4-cycle: every vertex sees two neighbor labels with count 1;
    # min tie-break makes the result deterministic across layouts
    cyc = [(1, 2), (2, 3), (3, 4), (4, 1)]
    a = {r["vertex"]: r["label"] for r in
         label_propagation(_sym(spark, cyc), rounds=3).collect()}
    b = {r["vertex"]: r["label"] for r in
         label_propagation(_sym(spark, cyc).repartition(5), rounds=3).collect()}
    assert a == b


def test_community_sizes(spark):
    labels = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (4, 40)], "vertex long, label long"
    )
    got = {r["label"]: r["n_members"] for r in community_sizes(labels).collect()}
    assert got == {10: 3, 40: 1}


def test_scd2_temporal_join_picks_row_valid_at_event_time(spark, sf_dir):
    # construct events: user 1 purchases at t1 (v=5) and t3 (v=9);
    # clicks at t0 (before any), t2 (between), t4 (after both)
    rows = [
        (1, 1, "purchase", "2024-01-02 00:00:00", 5.0),
        (2, 1, "purchase", "2024-01-04 00:00:00", 9.0),
        (3, 1, "click", "2024-01-01 00:00:00", 0.0),
        (4, 1, "click", "2024-01-03 00:00:00", 0.0),
        (5, 1, "click", "2024-01-05 00:00:00", 0.0),
    ]
    e = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts string, value double"
    ).select(
        "event_id", "user_id", "event_type",
        F.col("ts").cast("timestamp_ntz").alias("ts"), "value",
    )
    from pysparkflow.operators.asof import asof_join

    dim = e.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("value").alias("pval"), F.col("ts").alias("valid_from")
    )
    clicks = e.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    out = {
        r["event_id"]: r["pval_right"]
        for r in asof_join(
            clicks, dim, on="user_id", left_ts="ts", right_ts="valid_from"
        ).collect()
    }
    assert out[3] is None   # click before any purchase
    assert out[4] == 5.0    # between purchases -> first price
    assert out[5] == 9.0    # after second -> latest price


def test_unpivot_shape(spark):
    wide = spark.createDataFrame([("a", 1.0, 2.0)], "k string, m1 double, m2 double")
    out = wide.unpivot(
        ids="k", values=["m1", "m2"],
        variableColumnName="metric", valueColumnName="value",
    ).collect()
    assert sorted((r["metric"], r["value"]) for r in out) == [("m1", 1.0), ("m2", 2.0)]


def test_label_propagation_rejects_directed_input(spark):
    import pytest as _pytest

    df = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    with _pytest.raises(ValueError, match="only as destinations"):
        label_propagation(df, rounds=2).collect()


def test_label_propagation_source_only_vertex_keeps_its_label(spark):
    # a directed ring 1 -> 2 -> 3 -> 1 plus the spoke 9 -> 1: vertex 9
    # receives no message, so it keeps its own label every round
    df = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (9, 1)], "src long, dst long")
    got = {r["vertex"]: r["label"] for r in label_propagation(df, rounds=3).collect()}
    assert set(got) == {1, 2, 3, 9}
    assert got[9] == 9


def test_label_propagation_covers_all_vertices(spark):
    # symmetric path graph: output must label every vertex each round
    path = [(1, 2), (2, 3), (3, 4)]
    labels = label_propagation(_sym(spark, path), rounds=3)
    assert labels.count() == 4
