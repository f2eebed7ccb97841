"""Source-adapter tests: REST fetcher executor path, RPC fetcher with
uint-scale values, parquet schema evolution."""

from __future__ import annotations

import os
import sys
import threading
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import types as T

from traderjoe_etl_spark.sources.rest import FETCH_CONCURRENCY, quarantine, rest_snapshot_source
from traderjoe_etl_spark.sources.rpc import rpc_bins_source

def _rest_source(spark, payload):
    def fetch(url, params):
        pool = url.rsplit("/", 1)[-1]
        if pool not in payload:
            raise RuntimeError(f"api 500 for {pool}")
        return [{"v": v} for v in payload[pool]]

    keys = spark.createDataFrame([(p,) for p in [*payload, "boom"]], "pool string")
    schema = T.StructType([T.StructField("v", T.DoubleType())])
    return rest_snapshot_source(keys, "https://api/{pool}", schema, fetcher=fetch), "v"


def _rpc_source(spark, payload):
    def caller(pool, user, active, plus, minus):
        assert (plus, minus) == (1000, 1000)
        if pool not in payload:
            raise RuntimeError(f"api 500 for {pool}")
        return [(active + i, v, 0, 1, 1) for i, v in enumerate(payload[pool])]

    keys = spark.createDataFrame(
        [("u", p, 7) for p in [*payload, "boom"]],
        "user_address string, poolAddress string, activeBinId int",
    )
    return rpc_bins_source(keys, caller).withColumnRenamed("poolAddress", "pool"), "reserveX"


@pytest.mark.parametrize("make_source", [_rest_source, _rpc_source], ids=["rest", "rpc"])
def test_rest_source_explodes_rows_and_quarantines(spark, make_source):
    """The per-key fetch contract both sources share: N payload items give
    N rows, an empty payload gives none, a failing key gives exactly one
    row with its key columns set, NULL payload and the formatted error."""
    out, value_col = make_source(spark, {"p1": [1, 2], "p2": []})
    ok, bad = quarantine(out)
    assert sorted(r[value_col] for r in ok.filter("pool = 'p1'").collect()) == [1, 2]
    assert ok.filter("pool = 'p2'").count() == 0
    failed = bad.collect()
    assert len(failed) == 1 and failed[0].pool == "boom"
    assert failed[0][value_col] is None
    assert failed[0]._fetch_error == "RuntimeError: api 500 for boom"


def test_rest_source_quarantines_non_object_payload_element(spark):
    """A payload element that is not a JSON object fails the whole key:
    one bad row with a TypeError, no ok rows from the partial payload."""
    keys = spark.createDataFrame([("p1",)], "pool string")
    schema = T.StructType([T.StructField("v", T.DoubleType())])
    out = rest_snapshot_source(
        keys, "https://api/{pool}", schema, fetcher=lambda url, params: [{"v": 1.0}, "oops"]
    )
    ok, bad = quarantine(out)
    assert ok.count() == 0
    failed = bad.collect()
    assert len(failed) == 1 and failed[0].pool == "p1" and failed[0].v is None
    assert failed[0]._fetch_error.startswith("TypeError")


def test_rpc_source_decimal_fidelity(spark):
    """uint128 reserves and uint256 shares arrive as their nearest double,
    above int64 and above DECIMAL(38, 0) alike: a uint256 share of 10**40
    in one pair's bins fails neither that pair nor the other."""
    bins = {
        "u": [(5, 10**30, 1, 2**90, 2**91)],
        "whale": [(5, 2**128 - 1, 0, 10**40, 3 * 10**40)],
    }

    def caller(pool, user, active, plus, minus):
        return bins[user]

    keys = spark.createDataFrame(
        [("u", "p", 5), ("whale", "p", 5)], "user_address string, poolAddress string, activeBinId int"
    )
    rows = {r.user_address: r for r in rpc_bins_source(keys, caller).collect()}
    assert sorted(rows) == sorted(bins)
    for user, [(b, rx, ry, sh, tsh)] in bins.items():
        r = rows[user]
        assert r._fetch_error is None
        assert (r.binId, r.reserveX, r.reserveY, r.shares, r.totalShares) == (
            b, float(rx), float(ry), float(sh), float(tsh)
        )


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
    assert all(r.reserveX == float(10**30) and r.totalShares == float(2**91) for r in joined)
    assert rest_calls.value == len(pools) and rpc_calls.value == 6


def _in_flight_counter(calls):
    """A thread-safe stand-in for one endpoint: each call sleeps 20 ms and
    returns how many of its calls were in flight when it started. The lock
    cannot be pickled, so the first call on the worker creates it."""
    state = {"now": 0}

    def call():
        lock = state.setdefault("lock", threading.Lock())
        with lock:
            calls.add(1)
            state["now"] += 1
            n = state["now"]
        time.sleep(0.02)
        with lock:
            state["now"] -= 1
        return n

    return call


@pytest.mark.parametrize("kind", ["rest", "rpc"])
def test_fetch_overlaps_round_trips_within_a_task(spark, kind):
    """One task overlaps up to FETCH_CONCURRENCY round trips; rows keep key
    order, each key is fetched once and a failing key still gives one row."""
    calls = spark.sparkContext.accumulator(0)
    call = _in_flight_counter(calls)
    pools = [f"p{i:02d}" for i in range(24)]

    def fetch(url, params):
        n = call()
        if url.endswith("p05"):
            raise RuntimeError("api 500")
        return [{"v": n}]

    def caller(pool, user, active, plus, minus):
        n = call()
        if pool == "p05":
            raise RuntimeError("rpc revert")
        return [(active, n, 0, 1, 1)]

    if kind == "rest":
        keys = spark.createDataFrame([(p,) for p in pools], "pool string").coalesce(1)
        schema = T.StructType([T.StructField("v", T.LongType())])
        out = rest_snapshot_source(keys, "https://api/{pool}", schema, fetcher=fetch)
        pool_col, value_col = "pool", "v"
    else:
        keys = spark.createDataFrame(
            [("u", p, 7) for p in pools], "user_address string, poolAddress string, activeBinId int"
        ).coalesce(1)
        out = rpc_bins_source(keys, caller)
        pool_col, value_col = "poolAddress", "reserveX"
    assert out.rdd.getNumPartitions() == 1
    rows = out.collect()
    assert [r[pool_col] for r in rows] == pools
    assert calls.value == len(pools)
    failed = [r for r in rows if r._fetch_error is not None]
    assert len(failed) == 1 and failed[0][pool_col] == "p05" and failed[0][value_col] is None
    in_flight = [int(r[value_col]) for r in rows if r._fetch_error is None]
    assert 1 < max(in_flight) <= FETCH_CONCURRENCY


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
