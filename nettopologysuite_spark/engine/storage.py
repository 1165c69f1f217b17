"""Bucketed cell-partitioned storage — the co-located-join layout.

At 100 TB the cell equi-join's shuffle is the dominant cost; writing both
sides bucketed by ``cell_id`` into the warehouse ahead of time makes the
join a ZERO-EXCHANGE sort-merge: Spark matches bucket files pairwise and
never reshuffles either side (the parquet/Iceberg `bucket(cell_id)`
partition-transform analog). ``tests/test_storage.py`` gates the plan:
no Exchange above either bucketed scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(df: DataFrame, table: str, n_buckets: int,
                   bucket_col: str = "cell_id") -> None:
    """Persist ``df`` bucketed + sorted by the cell key. Buckets choose the
    reducer-side parallelism of every later co-located join; size them so
    one bucket's rows fit an executor (n_buckets ≈ data_size /
    target_partition_bytes at scale)."""
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
        .saveAsTable(table)
    )


def join_bucketed(spark: SparkSession, left_table: str, right_table: str,
                  on: str = "cell_id") -> DataFrame:
    """Equi-join two tables bucketed on the same key with the same bucket
    count — planner produces SortMergeJoin with NO Exchange on either side
    (bucketing IS the shuffle, paid once at write time). The merge hint
    keeps the planner on the bucket-aware path — an auto-broadcast of a
    small side would discard the bucketing and re-shuffle at scale."""
    return (
        spark.table(left_table).hint("merge")
        .join(spark.table(right_table).hint("merge"), on)
    )
