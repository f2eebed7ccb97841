"""Batch MERGE (upsert) — the engine form of `MERGE INTO` without a
table format: full-outer join on the key, source wins on match (SCD1
overwrite), unmatched source rows insert, unmatched target rows carry
forward. For history-preserving versions use operators/scd.py (SCD2);
this is the overwrite flavor every warehouse MERGE defaults to.

Scale shape: ONE co-keyed shuffle join (both sides hash on the merge
key); per-column resolution is a map-side coalesce.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
) -> DataFrame:
    """SCD1 MERGE of ``source`` into ``target`` on ``keys``.

    Column set = target's columns; source must carry the same names.
    Returns the merged relation.
    """
    data_cols = [c for c in target.columns if c not in keys]
    s = source
    marker = "__is_src"
    s = s.withColumn(marker, F.lit(True))
    t = target
    joined = t.alias("t").join(s.alias("s"), on=keys, how="full_outer")
    out_cols = [F.col(k) for k in keys]
    for c in data_cols:
        out_cols.append(F.coalesce(F.col(f"s.{c}"), F.col(f"t.{c}")).alias(c))
    return joined.select(*out_cols)
