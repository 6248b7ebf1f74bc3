"""Bucketed (pre-shuffled) tables for shuffle-free co-located joins.

At 100 TB the dominant cost of a fact-fact join is shuffling both
sides on the key. Bucketing pays that shuffle ONCE at write time:
``bucketBy(n, key)`` hash-partitions files on disk, and any later
equi-join (or aggregation) on that key reads co-located buckets with
NO exchange — the sort-merge join consumes each bucket pair directly.
This is the Spark-native analogue of the co-partitioned table layouts
native engines (and the reference's per-day S3 prefixes, in spirit)
use to avoid re-partitioning on every query.

tests/test_bucketing.py asserts the joined plan is Exchange-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table_name: str,
    path: str,
    bucket_col: str,
    num_buckets: int = 8,
    sorted_by: str | None = None,
) -> None:
    """Persist ``df`` as a bucketed+sorted EXTERNAL catalog table whose
    files live at ``path`` — the caller owns their lifetime (dropping
    the table leaves them). At cluster
    scale ``num_buckets`` is sized so one bucket ≈ one task's worth of
    data (e.g. 100 TB / 512 MB ≈ 200k buckets is too many files — in
    practice 4-16k buckets with multiple files each)."""
    writer = df.write.format("parquet").bucketBy(num_buckets, bucket_col)
    if sorted_by is not None:
        writer = writer.sortBy(sorted_by)
    writer.option("path", path).mode("overwrite").saveAsTable(table_name)


def colocated_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    left_key: str,
    right_key: str,
    how: str = "inner",
) -> DataFrame:
    """Join two identically-bucketed tables on their bucket key. With
    matching bucket counts Spark elides both exchanges; with the
    tables also sort-by'd, the per-bucket sorts are elided too."""
    lt = spark.table(left_table)
    rt = spark.table(right_table)
    return lt.join(rt, lt[left_key] == rt[right_key], how)
