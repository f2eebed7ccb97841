"""Source-adapter tests: schema-pinned json/csv reads, REST fetcher
executor path, RPC fetcher with decimal fidelity."""

from __future__ import annotations

import json
import os
import sys
import tempfile
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import types as T

from traderjoe_etl_spark.sources.rest import quarantine, rest_snapshot_source
from traderjoe_etl_spark.sources.rpc import rpc_bins_source
from traderjoe_etl_spark.sources.tables import read_with_schema

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ]
)


def test_read_json_permissive_missing_fields(spark):
    d = tempfile.mkdtemp()
    p = os.path.join(d, "rows.json")
    with open(p, "w") as f:
        f.write(json.dumps({"id": 1, "name": "a", "score": 1.5}) + "\n")
        f.write(json.dumps({"id": 2}) + "\n")  # missing fields → NULLs
    rows = {r.id: r for r in read_with_schema(spark, p, "json", SCHEMA).collect()}
    assert rows[1].score == 1.5
    assert rows[2].name is None and rows[2].score is None


def test_read_csv_with_header_and_bad_cell(spark):
    d = tempfile.mkdtemp()
    p = os.path.join(d, "rows.csv")
    with open(p, "w") as f:
        f.write("id,name,score\n1,a,1.5\n2,b,not_a_number\n")
    rows = {r.id: r for r in read_with_schema(spark, p, "csv", SCHEMA).collect()}
    assert rows[1].score == 1.5
    assert rows[2].score is None  # PERMISSIVE: bad cell → NULL


def test_rest_source_explodes_rows_and_quarantines(spark):
    payload = {"p1": [{"v": 1.0}, {"v": 2.0}], "p2": []}

    def fetch(url, params):
        key = url.rsplit("/", 1)[-1]
        if key == "boom":
            raise RuntimeError("api 500")
        return payload[key]

    keys = spark.createDataFrame([("p1",), ("p2",), ("boom",)], "pool string")
    out = rest_snapshot_source(
        keys, "https://api/{pool}", T.StructType([T.StructField("v", T.DoubleType())]), fetcher=fetch
    )
    ok, bad = quarantine(out)
    assert sorted(r.v for r in ok.filter("pool = 'p1'").collect()) == [1.0, 2.0]
    assert ok.filter("pool = 'p2'").count() == 0
    assert bad.collect()[0].pool == "boom"


def test_rpc_source_decimal_fidelity(spark):
    def caller(pool, user, active, plus, minus):
        return [(active, 10**30, 1, 2**90, 2**91)]

    keys = spark.createDataFrame(
        [("u", "p", 5)], "user_address string, poolAddress string, activeBinId int"
    )
    row = rpc_bins_source(keys, caller).collect()[0]
    assert row.reserveX == Decimal(10**30)  # > float64 exact range, > int64
    assert row.shares == Decimal(2**90)
    assert row.totalShares == Decimal(2**91)


def test_sources_fetch_each_key_once(spark):
    """Both sources fetch at call time, once per key: the quarantine ok
    side, the bad side and a join all read the same pinned rows."""
    rest_calls, rpc_calls = spark.sparkContext.accumulator(0), spark.sparkContext.accumulator(0)

    def fetch(url, params):
        rest_calls.add(1)
        pool = url.rsplit("/", 1)[-1]
        if pool == "boom":
            raise RuntimeError("api 500")
        return [{"activeBinId": int(pool[1:])}]

    def caller(pool, user, active, plus, minus):
        rpc_calls.add(1)
        if user == "u_boom":
            raise RuntimeError("rpc revert")
        return [(active, 10**30, 1, 2**90, 2**91)]

    pools = ["p1", "p2", "p3", "boom"]
    keys = spark.createDataFrame([(p,) for p in pools], "pool string")
    stats = rest_snapshot_source(
        keys, "https://api/{pool}", T.StructType([T.StructField("activeBinId", T.IntegerType())]), fetcher=fetch
    )
    assert rest_calls.value == len(pools)  # fetched at call time, before any action
    ok, bad = quarantine(stats)
    assert sorted(r.pool for r in ok.collect()) == ["p1", "p2", "p3"]
    assert [r.pool for r in bad.collect()] == ["boom"]
    users = spark.createDataFrame([("u1",), ("u_boom",)], "user_address string")
    bin_keys = users.crossJoin(ok.withColumnRenamed("pool", "poolAddress"))
    assert bin_keys.count() == 6
    assert rest_calls.value == len(pools)

    bins = rpc_bins_source(bin_keys, caller)
    assert rpc_calls.value == 6
    bins_ok, bins_bad = quarantine(bins)
    assert bins_ok.count() == 3
    assert {r.user_address for r in bins_bad.collect()} == {"u_boom"}
    joined = bins_ok.join(ok.withColumnRenamed("pool", "poolAddress"), "poolAddress").collect()
    assert {r.binId for r in joined} == {1, 2, 3}
    assert all(r.reserveX == Decimal(10**30) and r.totalShares == Decimal(2**91) for r in joined)
    assert rest_calls.value == len(pools) and rpc_calls.value == 6


def test_python_datasource_rest(spark):
    """Spark-4 Python DataSource API source: registered format, declared
    schema, deterministic fixture payload."""
    from traderjoe_etl_spark.sources.pyds import SnapshotRestDataSource, fixture_payload

    spark.dataSource.register(SnapshotRestDataSource)
    df = (
        spark.read.format("rest_snapshot")
        .option("n_pools", 6)
        .option("hours", 12)
        .load()
    )
    assert df.columns == ["pool_id", "hour", "reserve_x", "reserve_y", "fees_usd"]
    rows = df.collect()
    assert len(rows) == 6 * 12
    expected = {(r[0], r[1]): r for p in range(6) for r in fixture_payload(p, 12)}
    got = {(r.pool_id, r.hour): tuple(r) for r in rows}
    assert got == expected


def test_python_datasource_filter_pushdown(spark):
    """EqualTo/In on pool_id prune source partitions BEFORE the scan."""
    from pyspark.sql.datasource import EqualTo, GreaterThan, In

    from traderjoe_etl_spark.sources.pyds import SnapshotRestReader

    r = SnapshotRestReader({"n_pools": 16, "hours": 4})
    assert len(r.partitions()) == 16
    leftover = list(r.pushFilters([EqualTo(("pool_id",), 3), GreaterThan(("hour",), 1)]))
    # the hour predicate is NOT consumed (Spark evaluates it post-scan)
    assert len(leftover) == 1 and isinstance(leftover[0], GreaterThan)
    assert len(r.partitions()) == 1 and r.partitions()[0].pool_ids == [3]

    r2 = SnapshotRestReader({"n_pools": 16, "hours": 4})
    list(r2.pushFilters([In(("pool_id",), (2, 5, 7))]))
    assert sorted(p.pool_ids[0] for p in r2.partitions()) == [2, 5, 7]

    # end-to-end: the filtered read still returns exactly the pruned pool
    from traderjoe_etl_spark.sources.pyds import SnapshotRestDataSource

    spark.dataSource.register(SnapshotRestDataSource)
    df = (
        spark.read.format("rest_snapshot")
        .option("n_pools", 16)
        .option("hours", 4)
        .load()
        .filter("pool_id = 3 AND hour > 1")
    )
    out = df.collect()
    assert {r.pool_id for r in out} == {3} and len(out) == 2


def test_python_datasource_stream(spark, tmp_path):
    """Streaming Python DataSource: hourly micro-batch offsets drain into
    a memory sink; total rows = pools x hours and offsets checkpoint."""
    from pyspark.sql import functions as F

    from traderjoe_etl_spark.sources.pyds import SnapshotRestDataSource

    spark.dataSource.register(SnapshotRestDataSource)
    stream = (
        spark.readStream.format("rest_snapshot")
        .option("n_pools", 4)
        .option("max_hours", 6)
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("__pyds_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.table("__pyds_stream")
    assert out.count() == 4 * 6
    agg = out.groupBy("pool_id").agg(F.count(F.lit(1)).alias("n")).collect()
    assert all(r.n == 6 for r in agg)


def test_parquet_schema_evolution_mergeschema(spark, tmp_path):
    """Schema evolution on an append-only parquet dataset (the K1 sink's
    long-term reality at 100 TB: columns get added across vintages).
    Batch 1 lacks the new column; mergeSchema=true unifies the footer
    schemas and back-fills NULL, and an explicit .schema() read pins the
    superset without paying the footer merge."""
    from pyspark.sql import functions as F

    p = str(tmp_path / "evolving")
    spark.range(3).select(F.col("id").alias("k"), F.lit("v1").alias("a")).write.mode(
        "append"
    ).parquet(p)
    spark.range(3, 5).select(
        F.col("id").alias("k"), F.lit("v2").alias("a"), F.lit(7).alias("b")
    ).write.mode("append").parquet(p)

    merged = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(merged.columns) == {"k", "a", "b"}
    rows = {r.k: (r.a, r.b) for r in merged.collect()}
    assert rows[0] == ("v1", None) and rows[4] == ("v2", 7)

    pinned = spark.read.schema("k BIGINT, a STRING, b INT").parquet(p)
    assert {r.k: r.b for r in pinned.collect()}[1] is None
