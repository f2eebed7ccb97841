"""Snapshot sinks — K1 generalized (reference main.py:345-351).

The reference appends one wide row per run to a single CSV, writing the
header only when the file is new. The engine's primary sink is a
pool-bucketed Parquet store: an external catalog table over the store's
path, partitioned by snapshot date and hashed into ``SNAPSHOT_BUCKETS``
buckets on ``pool_address``. The files stay plain hive-partitioned
Parquet, ``<path>/snapshot_date=YYYY-MM-DD/part-*_<bucket id>.c000.snappy.parquet``,
so any Parquet reader can glob them. Every history query groups or
partitions on ``pool_address`` or on (user, pool), which the buckets
already satisfy: a query over the store moves no rows (no Exchange), and
date filters still prune directories. The ceiling: a query over the store
runs exactly ``SNAPSHOT_BUCKETS`` scan tasks, however large the store
grows.

Each append adds one file per non-empty bucket to its date directory;
nothing is rewritten. ``_store_table`` registers the table from the
declared ``schemas.SNAPSHOT_SCHEMA`` plus ``snapshot_date`` before the
first read or write of every process (the catalog lives in the session's
memory), whether or not the store has files yet. An append only adds to
that table, and the table's schema is its check: a frame with a missing
or extra column, or a column that does not safely cast, fails at analysis
and writes nothing. The table lists its directory on every read (no
catalog-held partitions, ``spark.sql.hive.manageFilesourcePartitions=false``
in ``RUNTIME_CONFS``), so appends from other processes show up after
``read_snapshots``' refresh.

Stores written before the bucketed layout hold files without a bucket id,
and Spark refuses to read them as the bucketed table
(``INVALID_BUCKET_FILE``). Rewrite such a store once: read it with
``spark.read.parquet`` and ``append_snapshot`` the frame into a new path.

The CSV export reproduces the reference's header-once, single-file byte
format for compatibility.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import SNAPSHOT_SCHEMA

#: Hash buckets on ``pool_address``: the files an append writes into its
#: date directory, and the scan tasks of every query over the store, which
#: is that query's parallelism whatever the session's cores. On a 96 000-row
#: history (4 vCPU, local[4]) the median query took 0.25 s with 2 buckets,
#: 0.28 s with 4 (2 won 8 of 8 seeds) and 0.31 s with 1 (3 seeds): at that
#: size a scan task's fixed cost outweighs its share of the rows. Raise it
#: as the store grows.
SNAPSHOT_BUCKETS = 2


def _store_table(spark: SparkSession, path: str) -> str:
    """Name of this session's catalog table over the store at the absolute
    ``path``, registered from ``SNAPSHOT_SCHEMA`` if the session has none."""
    name = "snapshots_" + hashlib.sha1(path.encode()).hexdigest()[:16]
    if spark.catalog.tableExists(name):
        return name
    if spark.conf.get("spark.sql.hive.manageFilesourcePartitions") != "false":
        # A catalog-tracked table would see no partition it did not write.
        raise ValueError("the snapshot store needs a session with RUNTIME_CONFS (session.get_spark)")
    columns = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in SNAPSHOT_SCHEMA)
    location = path.replace("\\", "\\\\").replace("'", "\\'")
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {name} ({columns}, snapshot_date DATE) USING parquet "
        f"PARTITIONED BY (snapshot_date) CLUSTERED BY (pool_address) INTO {SNAPSHOT_BUCKETS} BUCKETS "
        f"LOCATION '{location}'"
    )
    return name


def append_snapshot(df: DataFrame, path: str) -> None:
    """Append the ``SNAPSHOT_SCHEMA`` frame ``df`` to the pool-bucketed
    store at ``path``, partitioned by ``snapshot_date``.

    Derives the partition date from ``current_unix_timestamp`` (the
    reference's run stamp, main.py:271), read as the table's ``bigint`` so
    a run stamp of another type fails the table's own schema check, not
    the date derivation. Append mode: hourly batches only
    add files — the Parquet analog of the CSV append at main.py:347. The
    frame is hash-partitioned on the bucket key first, so each write task
    holds one bucket and writes one file.
    """
    path = os.path.abspath(path)
    name = _store_table(df.sparkSession, path)
    out = df.withColumn(
        "snapshot_date", F.to_date(F.timestamp_seconds(F.col("current_unix_timestamp").cast("bigint")))
    )
    (
        out.repartition(SNAPSHOT_BUCKETS, "pool_address")
        .write.mode("append")
        .bucketBy(SNAPSHOT_BUCKETS, "pool_address")
        .partitionBy("snapshot_date")
        .option("path", path)
        .saveAsTable(name)
    )


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
    """The snapshot store at ``path`` as this session's bucketed table,
    refreshed so it lists appends made since the last read, by this
    process or another (partition-pruned on snapshot_date when filtered).
    Raises ``FileNotFoundError`` when ``path`` is no directory."""
    path = os.path.abspath(path)
    if not os.path.isdir(path):
        raise FileNotFoundError(f"no snapshot store at {path}")
    name = _store_table(spark, path)
    spark.catalog.refreshTable(name)
    return spark.table(name)

