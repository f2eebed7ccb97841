"""Streaming-layer tests: batch of events driven through streaming queries
synchronously (file source → memory/parquet sink → processAllAvailable).
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F
from pyspark.sql import types as T

from traderjoe_etl_spark.streaming.jobs import (
    session_window_agg,
    stream_dedup,
    stream_stream_interval_join,
    windowed_event_agg,
)

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


@pytest.fixture(scope="module")
def event_dir(spark, sf_smoke, tmp_path_factory):
    """Materialize sf0.001 events as micro-ts parquet for the stream source."""
    from traderjoe_etl_spark.sources.tables import read_table

    d = str(tmp_path_factory.mktemp("stream_events_"))
    read_table(spark, sf_smoke, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    ).write.mode("overwrite").parquet(d)
    return d


def _drain(stream_df, name, mode="append"):
    # append mode only emits windows the watermark has closed — the final
    # window would be withheld; aggregation tests drain in complete mode.
    q = (
        stream_df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_tumbling_window_matches_batch(spark, event_dir):
    src = spark.readStream.schema(EVENTS_SCHEMA).parquet(event_dir)
    _drain(windowed_event_agg(src), "tumbling", mode="complete")
    got = spark.sql("SELECT sum(n) AS n, count(*) AS windows FROM tumbling").collect()[0]
    # batch equivalent on the same files
    batch = spark.read.schema(EVENTS_SCHEMA).parquet(event_dir)
    expected = (
        batch.groupBy(F.window("ts", "1 hour"), "event_type").count().count()
    )
    assert got.n == batch.count()
    assert got.windows == expected


def test_session_window_runs(spark, event_dir):
    src = spark.readStream.schema(EVENTS_SCHEMA).parquet(event_dir)
    _drain(session_window_agg(src), "sessions", mode="complete")
    rows = spark.sql("SELECT count(*) AS c, sum(n_events) AS n FROM sessions").collect()[0]
    batch = spark.read.schema(EVENTS_SCHEMA).parquet(event_dir)
    assert rows.n == batch.count()
    assert rows.c > 0


def test_stream_dedup_drops_watermark_duplicates(spark, event_dir):
    # duplicate every event: dedup on event_id must return each once
    src = spark.readStream.schema(EVENTS_SCHEMA).parquet(event_dir)
    doubled = src.union(src)
    _drain(stream_dedup(doubled, keys=["event_id"]), "dedup")
    n = spark.sql("SELECT count(*) AS c, count(DISTINCT event_id) AS d FROM dedup").collect()[0]
    batch_n = spark.read.schema(EVENTS_SCHEMA).parquet(event_dir).count()
    assert n.c == n.d == batch_n


def test_stream_stream_join_matches_batch(spark, event_dir):
    views = spark.readStream.schema(EVENTS_SCHEMA).parquet(event_dir).filter(
        F.col("event_type") == "view"
    )
    buys = spark.readStream.schema(EVENTS_SCHEMA).parquet(event_dir).filter(
        F.col("event_type") == "purchase"
    )
    joined = stream_stream_interval_join(views, buys)
    _drain(joined.select("user_id", "event_id", "event_id_r"), "ssjoin")
    got = spark.sql("SELECT count(*) AS c FROM ssjoin").collect()[0].c

    batch = spark.read.schema(EVENTS_SCHEMA).parquet(event_dir)
    bv = batch.filter(F.col("event_type") == "view").alias("l")
    bb = batch.filter(F.col("event_type") == "purchase").alias("r")
    expected = bv.join(
        bb,
        (F.col("l.user_id") == F.col("r.user_id"))
        & (F.col("r.ts") >= F.col("l.ts"))
        & (F.col("r.ts") <= F.col("l.ts") + F.expr("INTERVAL 1 hour")),
        "inner",
    ).count()
    assert got == expected and got > 0


def test_streaming_foreachbatch_merge(spark, tmp_path):
    """Streaming SCD1 upsert: each micro-batch merges into the stored
    table via operators/merge.py inside foreachBatch."""
    from traderjoe_etl_spark.operators.merge import merge_upsert

    store = str(tmp_path / "state")
    src_dir = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (1, 15.0), (3, 30.0)], "k long, v double"
    ).repartition(1).write.parquet(src_dir)

    def upsert(batch, batch_id):
        batch = (
            batch.groupBy("k").agg(F.max("v").alias("v"))  # last-write-wins per batch
        )
        try:
            target = batch.sparkSession.read.parquet(store)
            merged = merge_upsert(target, batch, keys=["k"])
        except Exception:
            merged = batch
        merged.write.mode("overwrite").parquet(store + "_next")
        next_df = batch.sparkSession.read.parquet(store + "_next")
        next_df.write.mode("overwrite").parquet(store)

    stream = spark.readStream.schema("k long, v double").parquet(src_dir)
    q = (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    final = {r.k: r.v for r in spark.read.parquet(store).collect()}
    assert final == {1: 15.0, 2: 20.0, 3: 30.0}
