"""Sink semantics: the pool-bucketed, date-partitioned snapshot store +
header-once CSV (K1, reference main.py:345-351)."""

from __future__ import annotations

import os
import re
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql import types as T

from traderjoe_etl_spark.schemas import SNAPSHOT_SCHEMA
from traderjoe_etl_spark.sinks import (
    SNAPSHOT_BUCKETS,
    _store_table,
    append_snapshot,
    csv_export,
    read_snapshots,
)

DAY1 = 1767225600  # 2026-01-01 UTC


def snapshot_frame(df):
    """A full ``SNAPSHOT_SCHEMA`` frame, the only shape the store takes:
    ``df``'s columns cast to their declared types, typed NULLs for the rest."""
    have = set(df.columns)
    return df.select(
        *[
            (F.col(f"`{f.name}`") if f.name in have else F.lit(None)).cast(f.dataType).alias(f.name)
            for f in SNAPSHOT_SCHEMA
        ]
    )


def _batch(spark, ts, vals):
    """Snapshot rows with ``activeBinId`` = each of ``vals``, over five pools."""
    return snapshot_frame(
        spark.createDataFrame(
            [(v, f"0xpool{v % 5}", ts) for v in vals],
            "activeBinId int, pool_address string, current_unix_timestamp long",
        )
    )


def _store_files(d):
    return sorted(os.path.relpath(os.path.join(r, f), d) for r, _, fs in os.walk(d) for f in fs)


def _date_files(d):
    """{date directory: set of parquet file names}"""
    return {
        p: {f for f in os.listdir(os.path.join(d, p)) if f.endswith(".parquet")}
        for p in os.listdir(d)
        if p.startswith("snapshot_date=")
    }


def test_append_snapshot_partitions_and_accumulates(spark, tmp_path):
    d = str(tmp_path)
    day1 = DAY1
    day2 = day1 + 86400
    batches = [_batch(spark, day1, [1, 2]), _batch(spark, day2, [3]), _batch(spark, day2, [4])]
    for batch in batches:  # the last one appends, not overwrites
        before = _date_files(d)
        append_snapshot(batch, d)
        added = {p: fs - before.get(p, set()) for p, fs in _date_files(d).items()}
        assert all(len(fs) <= SNAPSHOT_BUCKETS for fs in added.values()), added

    back = read_snapshots(spark, d)
    assert back.count() == 4
    parts = {r.snapshot_date.isoformat() for r in back.select("snapshot_date").distinct().collect()}
    assert parts == {"2026-01-01", "2026-01-02"}
    # physical partition dirs exist → date filters prune at the source
    assert sorted(p for p in os.listdir(d) if p.startswith("snapshot_date=")) == [
        "snapshot_date=2026-01-01",
        "snapshot_date=2026-01-02",
    ]
    pruned = back.filter(F.col("snapshot_date") == "2026-01-02")
    assert pruned.count() == 2


def test_append_never_overwrites_a_store_this_session_has_not_registered(spark, tmp_path):
    """A fresh process has no catalog table over the store. Registration
    must run before its first append: Spark's table-creating saveAsTable
    writes in Overwrite mode and would erase every earlier day."""
    d = str(tmp_path / "store")
    append_snapshot(_batch(spark, DAY1, [1, 2]), d)
    append_snapshot(_batch(spark, DAY1 + 86400, [3]), d)
    spark.sql(f"DROP TABLE {_store_table(spark, d)}")  # external: the files stay
    append_snapshot(_batch(spark, DAY1 + 2 * 86400, [4, 5]), d)
    back = read_snapshots(spark, d)
    assert sorted(r.activeBinId for r in back.select("activeBinId").collect()) == [1, 2, 3, 4, 5]


def test_read_snapshots_sees_appends_made_outside_its_table(spark, tmp_path):
    """Another process appends files, not catalog entries: the next
    read_snapshots lists them, a new snapshot_date directory included."""
    d, other = str(tmp_path / "store"), str(tmp_path / "other")
    append_snapshot(_batch(spark, DAY1, [1, 2]), d)
    assert read_snapshots(spark, d).count() == 2
    append_snapshot(_batch(spark, DAY1 + 86400, [3, 4, 5]), other)
    new_day = "snapshot_date=2026-01-02"
    shutil.copytree(os.path.join(other, new_day), os.path.join(d, new_day))
    back = read_snapshots(spark, d)
    assert back.count() == 5
    days = {r.snapshot_date.isoformat() for r in back.select("snapshot_date").distinct().collect()}
    assert days == {"2026-01-01", "2026-01-02"}


def test_store_file_without_bucket_id_fails_loudly(spark, tmp_path):
    """A plain (unbucketed) parquet append, as the earlier sink wrote, has
    no bucket id in its file name: a bucketed read must raise, never
    return a silently wrong result."""
    d = str(tmp_path / "store")
    append_snapshot(_batch(spark, DAY1, [1, 2]), d)
    legacy = _batch(spark, DAY1, [3]).withColumn(
        "snapshot_date", F.to_date(F.timestamp_seconds("current_unix_timestamp"))
    )
    legacy.write.mode("append").partitionBy("snapshot_date").parquet(d)
    per_pool = read_snapshots(spark, d).groupBy("pool_address").agg(F.sum("activeBinId"))
    with pytest.raises(Py4JJavaError, match="INVALID_BUCKET_FILE"):
        per_pool.collect()


def test_read_snapshots_without_a_store_raises(spark, tmp_path):
    """No directory is no store: the read names the path instead of
    returning zero rows. An empty store directory reads zero rows, and the
    first append into a new path creates the store."""
    d = str(tmp_path / "store")
    with pytest.raises(FileNotFoundError, match=re.escape(d)):
        read_snapshots(spark, d)
    os.mkdir(d)
    assert read_snapshots(spark, d).count() == 0
    new = str(tmp_path / "new" / "store")
    append_snapshot(_batch(spark, DAY1, [1]), new)
    assert read_snapshots(spark, new).count() == 1


def test_store_schema_is_the_declared_snapshot_schema(spark, tmp_path):
    """What read_snapshots returns after an append is SNAPSHOT_SCHEMA plus
    the partition column: names, order and types (nullability aside)."""
    d = str(tmp_path / "store")
    append_snapshot(_batch(spark, DAY1, [1, 2]), d)
    got = [(f.name, f.dataType) for f in read_snapshots(spark, d).schema]
    assert got == [(f.name, f.dataType) for f in SNAPSHOT_SCHEMA] + [("snapshot_date", T.DateType())]


@pytest.mark.parametrize(
    "bad",
    [
        lambda df: df.drop("APR%"),
        lambda df: df.withColumn("extra", F.lit(1.0)),
        lambda df: df.withColumn("APR%", F.lit("12.5")),
        lambda df: df.withColumn("current_unix_timestamp", F.col("current_unix_timestamp").cast("string")),
    ],
    ids=["missing_column", "extra_column", "string_in_double", "string_run_stamp"],
)
def test_append_refuses_frames_off_the_schema(spark, tmp_path, bad):
    """The table's declared schema is the append's check: a frame that
    does not fit it fails at analysis with an error naming the store's
    table, and writes no file."""
    d = str(tmp_path / "store")
    append_snapshot(_batch(spark, DAY1, [1, 2]), d)
    before = _store_files(d)
    with pytest.raises(AnalysisException, match=_store_table(spark, os.path.abspath(d))):
        append_snapshot(bad(_batch(spark, DAY1, [3])), d)
    assert _store_files(d) == before
    assert read_snapshots(spark, d).count() == 2


@pytest.mark.parametrize("vectorized", ["true", "false"])
def test_store_reads_files_with_an_int32_run_stamp(spark, tmp_path, vectorized):
    """Stores written while the run stamp was an ``int`` hold INT32
    ``current_unix_timestamp`` files; the BIGINT table reads them, next to
    INT64 files, with either Parquet reader."""
    d, old = str(tmp_path / "store"), str(tmp_path / "old")
    append_snapshot(_batch(spark, DAY1 + 86400, [3]), d)
    int32 = F.col("current_unix_timestamp").cast("int")
    (
        _batch(spark, DAY1, [1, 2])
        .withColumns({"current_unix_timestamp": int32, "snapshot_date": F.to_date(F.timestamp_seconds(int32))})
        .repartition(SNAPSHOT_BUCKETS, "pool_address")
        .write.bucketBy(SNAPSHOT_BUCKETS, "pool_address")
        .partitionBy("snapshot_date")
        .option("path", old)
        .saveAsTable("int32_run_stamp_store")
    )
    spark.sql("DROP TABLE int32_run_stamp_store")  # external: the files stay
    day = "snapshot_date=2026-01-01"
    shutil.copytree(os.path.join(old, day), os.path.join(d, day))
    key = "spark.sql.parquet.enableVectorizedReader"
    spark.conf.set(key, vectorized)
    try:
        rows = read_snapshots(spark, d).select("current_unix_timestamp", "activeBinId").collect()
    finally:
        spark.conf.unset(key)
    assert sorted((r.current_unix_timestamp, r.activeBinId) for r in rows) == [
        (DAY1, 1),
        (DAY1, 2),
        (DAY1 + 86400, 3),
    ]


def test_store_refuses_catalog_tracked_partitions(spark, tmp_path):
    """Under Spark's default conf a table registered from existing files
    holds no partitions and reads zero rows: the store refuses to register
    it in a session without RUNTIME_CONFS."""
    key = "spark.sql.hive.manageFilesourcePartitions"
    d = str(tmp_path / "store")
    append_snapshot(_batch(spark, DAY1, [1]), d)
    spark.sql(f"DROP TABLE {_store_table(spark, d)}")
    spark.conf.set(key, "true")
    try:
        with pytest.raises(ValueError, match="RUNTIME_CONFS"):
            read_snapshots(spark, d)
    finally:
        spark.conf.set(key, "false")
    assert read_snapshots(spark, d).count() == 1


def test_csv_export_header_once(spark, tmp_path):
    d = str(tmp_path)
    path = os.path.join(d, "snap.csv")

    def rows(vals):
        return spark.createDataFrame([(v, DAY1) for v in vals], "value long, current_unix_timestamp long")

    csv_export(rows([1, 2]), path)
    csv_export(rows([3]), path)
    lines = open(path, encoding="utf-8").read().strip().splitlines()
    assert lines[0] == "value,current_unix_timestamp"
    assert len(lines) == 4  # one header + three rows across two appends
    assert sum(1 for l in lines if l.startswith("value,")) == 1

