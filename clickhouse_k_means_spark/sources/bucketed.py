"""Bucketed (hash-clustered) tables — persisted co-location for
shuffle-free repeated joins and aggregations.

The reference engine gets key-local joins for free from its MergeTree
primary-key layout (k-means.sql:10-11 stores state ORDER BY step and
reads it back without redistribution). On Spark the analogue is a
BUCKETED table: ``bucketBy(n, key)`` persists a hash-distribution of
the data into a fixed number of bucket files per partition, and every
later scan reports that distribution to the planner — so a join or
aggregation keyed on the bucket column needs NO Exchange on that side,
at any scale.

When to bucket (the 100 TB playbook):
- A fact table joined repeatedly on the same key (orders ⋈ customer on
  custkey, events ⋈ sessions on user_id): bucketing both sides with
  the SAME bucket count turns every such join into a zero-shuffle
  SortMergeJoin — the shuffle is paid ONCE at write time, amortized
  over every downstream query.
- ``groupBy(bucket_key)`` aggregations likewise skip their Exchange.
- Choose ``n_buckets`` so one bucket ≈ one healthy task
  (rows/bucket × row width ≲ a few hundred MB); bucket counts must
  match across join sides (or differ by a power-of-two factor with
  ``spark.sql.bucketing.coalesceBucketsInJoin.enabled``).
- ``sortBy(key)`` additionally persists within-file order, letting the
  planner drop the per-task Sort when each bucket holds one file.

This is plain open Spark surface: ``DataFrameWriter.bucketBy`` +
``saveAsTable`` with an explicit ``path`` (external table in the
session catalog — no Hive metastore needed for parquet source tables).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    name: str,
    n_buckets: int,
    key: str | list[str],
    path: str,
    sort: bool = True,
) -> DataFrame:
    """Persist ``df`` as a bucketed external parquet table and return
    the re-read table (whose scans carry the bucket distribution).

    ``name`` is the catalog table name (dropped and re-created);
    ``path`` is the storage location (external — dropping the table
    later leaves the files). ``key`` may be one column or a list; the
    same columns are used for ``sortBy`` when ``sort`` is True.

    The input is repartitioned to ``n_buckets`` ON the bucket columns
    before writing, so each bucket lands as ONE file instead of
    (input partitions × buckets) small files — at cluster scale that
    is the difference between n_buckets objects and a small-file
    explosion, and one sorted file per bucket additionally lets the
    planner drop the per-task Sort on read-back.
    """
    if n_buckets <= 0:
        raise ValueError(f"write_bucketed: n_buckets must be > 0, got {n_buckets}")
    keys = [key] if isinstance(key, str) else list(key)
    if not keys:
        raise ValueError("write_bucketed: key must name at least one column")
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    w = (
        df.repartition(n_buckets, *[df[k] for k in keys])
        .write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(n_buckets, keys[0], *keys[1:])
    )
    if sort:
        w = w.sortBy(keys[0], *keys[1:])
    w.saveAsTable(name)
    return spark.table(name)
