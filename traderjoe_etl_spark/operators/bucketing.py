"""Bucketed tables — shuffle-free co-located joins (SURVEY.md §2B
partitioning strategy; the 100-TB answer to repeated fact⋈fact joins).

A join between two tables bucketed by the same key into the same bucket
count needs NO exchange: each task reads matching buckets from both sides.
At 100 TB this converts the dominant repeated cost (shuffling the fact
table for every join) into a one-time write-side cost.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession


def save_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_key: str,
    num_buckets: int = 16,
) -> None:
    """Persist as a bucketed managed table.

    Drops any previous table AND scrubs an orphaned local warehouse
    location (a dropped-catalog/leftover-dir combination otherwise fails
    with LOCATION_ALREADY_EXISTS)."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    if wh.startswith("file:"):
        shutil.rmtree(os.path.join(wh[len("file:"):], table_name.lower()), ignore_errors=True)
    df.write.mode("overwrite").bucketBy(num_buckets, bucket_key).saveAsTable(table_name)


def bucketed_join(spark: SparkSession, left_table: str, right_table: str, key: str) -> DataFrame:
    """Inner-join two same-bucketed tables on their bucket key — plan shows
    no Exchange on either side (verify with .explain)."""
    return spark.table(left_table).join(spark.table(right_table), key, "inner")
