"""Bucketed tables — shuffle-free co-located joins (SURVEY.md §2B
partitioning strategy; the 100-TB answer to repeated fact⋈fact joins).

A join between two tables bucketed by the same key into the same bucket
count needs NO exchange: each task reads matching buckets from both sides.
At 100 TB this converts the dominant repeated cost (shuffling the fact
table for every join) into a one-time write-side cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..scratch import scratch_dir

#: Buckets of every table ``save_bucketed`` writes; two tables join
#: without an Exchange only when their bucket counts are equal.
NUM_BUCKETS = 8


def save_bucketed(df: DataFrame, table_name: str, bucket_key: str) -> None:
    """Persist as a ``NUM_BUCKETS``-bucketed catalog table whose files sit
    in a private scratch directory (``scratch.py``), not in the session's
    warehouse —
    by default ``spark-warehouse/`` under the working directory, shared by
    every session started there. Drops any previous table of the name
    first; a new directory per call means no leftover location can clash."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    path = scratch_dir(f"bucketed_{table_name.lower()}_")
    df.write.mode("overwrite").bucketBy(NUM_BUCKETS, bucket_key).option("path", path).saveAsTable(table_name)


def bucketed_join(spark: SparkSession, left_table: str, right_table: str, key: str) -> DataFrame:
    """Inner-join two same-bucketed tables on their bucket key — plan shows
    no Exchange on either side (verify with .explain)."""
    return spark.table(left_table).join(spark.table(right_table), key, "inner")
