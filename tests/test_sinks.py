"""Sink semantics: date-partitioned append Parquet + header-once CSV
(K1, reference main.py:345-351)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from traderjoe_etl_spark.sinks import append_snapshot, csv_export, read_snapshots


def _batch(spark, ts, vals):
    return spark.createDataFrame(
        [(v, ts) for v in vals], "value long, current_unix_timestamp long"
    )


def test_append_snapshot_partitions_and_accumulates(spark, tmp_path):
    d = str(tmp_path)
    day1 = 1767225600  # 2026-01-01 UTC
    day2 = day1 + 86400
    append_snapshot(_batch(spark, day1, [1, 2]), d)
    append_snapshot(_batch(spark, day2, [3]), d)
    append_snapshot(_batch(spark, day2, [4]), d)  # append, not overwrite

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


def test_csv_export_header_once(spark, tmp_path):
    d = str(tmp_path)
    path = os.path.join(d, "snap.csv")
    csv_export(_batch(spark, 1767225600, [1, 2]), path)
    csv_export(_batch(spark, 1767225600, [3]), path)
    lines = open(path, encoding="utf-8").read().strip().splitlines()
    assert lines[0] == "value,current_unix_timestamp"
    assert len(lines) == 4  # one header + three rows across two appends
    assert sum(1 for l in lines if l.startswith("value,")) == 1


def test_clustered_write_prunes(spark, tmp_path):
    """Range-clustered layout: per-file min/max stats must be pairwise
    disjoint so footer-stat pruning can skip files, and a selective read
    must push the filter down to the scan."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from traderjoe_etl_spark.sinks import clustered_write
    from traderjoe_etl_spark.sources.tables import read_table

    events = read_table(spark, "/root/testdata/sf0.001", "events")
    out = str(tmp_path / "clustered")
    clustered_write(events, out, "ts", n_files=8)

    ranges = []
    for f in glob.glob(out + "/*.parquet"):
        md = pq.read_metadata(f)
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.num_columns)
                if md.row_group(rg).column(i).path_in_schema == "ts"
            )
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    assert len(ranges) >= 4
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, "file ranges overlap - clustering broken"

    back = spark.read.parquet(out)
    lo = events.agg(F.min("ts")).collect()[0][0]
    filtered = back.filter(F.col("ts") <= F.lit(lo))
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "LessThanOrEqual(ts" in plan
    assert filtered.count() >= 1


def test_zorder_write_prunes_both_dims(spark, tmp_path):
    """Z-order layout: per-file spans of BOTH interleaved columns must be
    materially narrower than the global span (each dimension prunes)."""
    import glob

    import pyarrow.parquet as pq

    from traderjoe_etl_spark.operators.layout import zorder_write
    from traderjoe_etl_spark.sources.tables import read_table

    events = read_table(spark, "/root/testdata/sf0.01", "events")
    out = str(tmp_path / "zorder")
    zorder_write(events, out, "user_id", "value", n_files=16)

    def spans(col):
        spans = []
        glob_min, glob_max = None, None
        for f in glob.glob(out + "/*.parquet"):
            md = pq.read_metadata(f)
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                c = next(
                    md.row_group(rg).column(i)
                    for i in range(md.num_columns)
                    if md.row_group(rg).column(i).path_in_schema == col
                )
                mins.append(c.statistics.min)
                maxs.append(c.statistics.max)
            lo, hi = min(mins), max(maxs)
            spans.append(hi - lo)
            glob_min = lo if glob_min is None else min(glob_min, lo)
            glob_max = hi if glob_max is None else max(glob_max, hi)
        return spans, glob_max - glob_min

    for col in ("user_id", "value"):
        per_file, full = spans(col)
        avg = sum(per_file) / len(per_file)
        # z-order over 2 dims: each file covers a sub-rectangle; average
        # per-file span must be well under the full span on BOTH columns
        # (a 1D range layout would give ~full span on the other column).
        assert avg < 0.8 * full, (col, avg, full)


def test_compact_small_files(spark, tmp_path):
    from traderjoe_etl_spark.operators.layout import compact_small_files
    from traderjoe_etl_spark.sources.tables import read_table

    src = str(tmp_path / "many")
    read_table(spark, "/root/testdata/sf0.001", "events").repartition(24).write.parquet(src)
    out = str(tmp_path / "compacted")
    n = compact_small_files(spark, src, out, target_mb=1)
    import glob
    files = glob.glob(out + "/*.parquet")
    assert len(files) == n and n < 24
    assert spark.read.parquet(out).count() == spark.read.parquet(src).count()
