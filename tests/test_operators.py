"""Unit tests for plan-helper operators (limit_by, sampling, pivot, topk)."""

from __future__ import annotations

from pyspark.sql import functions as F

from clickhouse_k_means_spark.operators import (
    cumulative_weights,
    limit_by,
    pivot_clusters,
    top_k,
    top_k_by_group,
    weighted_pick,
)
from clickhouse_k_means_spark.operators.sampling import partitioned_cumsum


def _wcr(spark):
    rows = [
        (0, 1, [0.0, 0.0]),
        (0, 2, [9.0, 9.0]),
        (1, 1, [1.0, 1.0]),
        (1, 2, [8.0, 8.0]),
        (2, 1, [1.5, 1.5]),
    ]
    return spark.createDataFrame(rows, "step long, j int, C array<double>")


def test_limit_by_latest_per_centroid(spark):
    # reference: ORDER BY step desc LIMIT 1 BY j (k-means.sql:26)
    got = {
        (r["j"]): (r["step"], r["C"])
        for r in limit_by(_wcr(spark), 1, "j", F.col("step").desc()).collect()
    }
    assert got == {1: (2, [1.5, 1.5]), 2: (1, [8.0, 8.0])}


def test_limit_by_two_per_step(spark):
    got = limit_by(_wcr(spark), 2, "step", F.col("j").asc()).count()
    assert got == 5  # steps 0,1 have 2 rows, step 2 has 1


def test_cumulative_weights(spark):
    df = spark.createDataFrame([(1, 1.0), (2, 3.0), (3, 6.0)], "i long, d double")
    rows = cumulative_weights(df, "d", "i").orderBy("i").collect()
    assert [r["cum"] for r in rows] == [1.0, 4.0, 10.0]
    assert all(r["total"] == 10.0 for r in rows)


def test_weighted_pick_inverse_cdf(spark):
    df = spark.createDataFrame([(1, 1.0), (2, 3.0), (3, 6.0)], "i long, d double")
    # U=0.05 → threshold 0.5 < cum first at i=1; U=0.35 → 3.5 → i=2; U=0.9 → 9.0 → i=3
    for u, want in [(0.05, 1), (0.35, 2), (0.9, 3)]:
        got = weighted_pick(df, "d", "i", u).collect()
        assert [r["i"] for r in got] == [want]


def test_partitioned_cumsum_matches_window(spark):
    df = spark.range(100).select(
        F.col("id").alias("i"), (F.col("id") % 7 + 1).cast("double").alias("d")
    )
    got = {r["i"]: r["cum"] for r in partitioned_cumsum(df, "d", "i", 8).collect()}
    rows = df.orderBy("i").collect()
    run = 0.0
    for r in rows:
        run += r["d"]
        assert abs(got[r["i"]] - run) < 1e-9


def test_pivot_clusters_exact_parity(spark):
    df = spark.createDataFrame(
        [(1.0, 2.0, 1), (3.0, 4.0, 2)], "x double, y double, j int"
    )
    rows = pivot_clusters(df, [1, 2], exact_parity=True).orderBy("x").collect()
    assert rows[0]["p1"] == 2.0 and rows[0]["p2"] is None
    assert rows[1]["p1"] is None and rows[1]["p2"] == 4.0


def test_pivot_clusters_grouped(spark):
    df = spark.createDataFrame(
        [(1.0, 2.0, 1), (3.0, 4.0, 2)], "x double, y double, j int"
    )
    rows = pivot_clusters(df, [1, 2], exact_parity=False).orderBy("x").collect()
    assert rows[0]["p1"] == 2.0 and rows[1]["p2"] == 4.0


def test_to_tsv_string_pivot_export(spark):
    """The reference's clipboard export (k-means.sh:45): TSVWithNames of
    the pivoted model, a header row, tab-separated cells and the ' '
    NULL token."""
    from clickhouse_k_means_spark.sources.sinks import to_tsv_string

    df = spark.createDataFrame(
        [(1.0, 2.0, 1), (3.0, 4.0, 2), (5.0, 6.5, 2)], "x double, y double, j int"
    )
    pivoted = pivot_clusters(df, [1, 2], exact_parity=True).orderBy("x")
    assert to_tsv_string(pivoted).splitlines() == [
        "x\tp1\tp2",
        "1.0\t2.0\t ",
        "3.0\t \t4.0",
        "5.0\t \t6.5",
    ]
    assert to_tsv_string(pivoted, null_token="NULL").splitlines()[1] == "1.0\t2.0\tNULL"


def test_top_k_and_by_group(spark):
    df = spark.createDataFrame(
        [(g, v) for g in range(3) for v in range(10)], "g int, v int"
    )
    assert [r["v"] for r in top_k(df, 2, F.col("v").desc()).collect()] == [9, 9]
    per = top_k_by_group(df, 2, "g", F.col("v").desc())
    assert per.count() == 6
    assert set(r["v"] for r in per.collect()) == {8, 9}
