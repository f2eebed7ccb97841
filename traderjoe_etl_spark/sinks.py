"""Snapshot sinks — K1 generalized (reference main.py:345-351).

The reference appends one wide row per run to a single CSV, writing the
header only when the file is new. The engine's primary sink is append-mode
Parquet partitioned by snapshot date (scales: each hourly batch is a new
set of files, no read-modify-write, partition pruning on date for the
time-series queries in operators/windows.py). The CSV export reproduces the
reference's header-once, single-file byte format for compatibility.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def append_snapshot(df: DataFrame, path: str) -> None:
    """Append-mode Parquet sink partitioned by ``snapshot_date``.

    Derives the partition date from ``current_unix_timestamp`` (the
    reference's run stamp, main.py:271). Append mode: hourly batches only
    add files — the Parquet analog of the CSV append at main.py:347.
    """
    out = df.withColumn(
        "snapshot_date", F.to_date(F.timestamp_seconds(F.col("current_unix_timestamp")))
    )
    out.write.mode("append").partitionBy("snapshot_date").parquet(path)


#: csv_export materializes on the driver; above this many rows the caller
#: almost certainly wanted the distributed sink instead of an OOM.
CSV_EXPORT_MAX_ROWS = 1_000_000


def csv_export(df: DataFrame, path: str) -> None:
    """Header-once single-file CSV append (reference main.py:345-351).

    A deliberate driver-side convenience for small exports (the reference's
    output volume is one row per pair per hour — tiny); the distributed
    path is ``append_snapshot``. Guarded: refuses above
    ``CSV_EXPORT_MAX_ROWS`` so a 100-TB relation can never be collect()ed
    onto the driver by accident — the probe and the collect are ONE job —
    limit(CSV_EXPORT_MAX_ROWS+1).toPandas() —
    so a changing/non-deterministic source can't pass a separate count
    probe and then collect more (and the input plan runs once, not twice).
    """
    pdf = df.limit(CSV_EXPORT_MAX_ROWS + 1).toPandas()
    if len(pdf) > CSV_EXPORT_MAX_ROWS:
        raise ValueError(
            f"csv_export is a driver-side small-export sink: input exceeds "
            f"{CSV_EXPORT_MAX_ROWS} rows; use append_snapshot (distributed) instead"
        )
    exists = os.path.isfile(path) and os.path.getsize(path) > 0
    pdf.to_csv(path, mode="a" if exists else "w", index=False, header=not exists)


def read_snapshots(spark: SparkSession, path: str) -> DataFrame:
    """Read the snapshot time series back (partition-pruned on
    snapshot_date when filtered)."""
    return spark.read.parquet(path)


def clustered_write(
    df: DataFrame,
    path: str,
    cluster_col: str,
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Range-clustered Parquet layout: repartitionByRange + in-partition
    sort on ``cluster_col`` before writing.

    At 100 TB the data LAYOUT is the cheapest query accelerator there is:
    range-clustering a time/key column makes every file's (and row
    group's) min/max footer stats disjoint, so a selective filter prunes
    to the few files that can contain matches — the scan cost of
    ``WHERE ts BETWEEN …`` drops from |table| to |selected range|, with
    zero index infrastructure. repartitionByRange samples the column to
    build balanced range bounds (skew-tolerant), and the in-partition
    sort tightens per-row-group stats within each file.

    ``n_files`` controls output fan-out (defaults to the session shuffle
    parallelism): on a real cluster size it so files land in the
    100 MB–1 GB sweet spot.
    """
    parts = df.repartitionByRange(*( [n_files] if n_files else [] ), F.col(cluster_col))
    parts.sortWithinPartitions(cluster_col).write.mode(mode).parquet(path)
