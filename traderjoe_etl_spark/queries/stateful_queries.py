"""Custom stateful streaming surfaced as a driver query."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..scratch import scratch_dir
from ..sources.tables import read_table
from . import query


@query(
    "stream_position_tracker",
    oracle="""
    SELECT user_id,
           round(sum(value * CASE event_type WHEN 'purchase' THEN 1.0
                                             WHEN 'error' THEN -1.0
                                             ELSE 0.0 END), 4) AS net_value,
           count(*) AS n_events
    FROM events
    GROUP BY user_id
    """,
)
def stream_position_tracker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The applyInPandasWithState running position tracker (custom stateful
    operator, streaming/stateful.py) driven to completion over the events
    table and reduced to final per-user state — which must equal the batch
    signed fold, so the oracle checks the STATEFUL path against plain SQL.

    SCALE CONTRACT (the Python-stateful floor, measured r7): this path
    runs ~600k rows/s per node — every event crosses the JVM→Python Arrow
    boundary and a pandas group loop. Fine at sf100 (156.7 s for 100M
    events); at a real 100 TB (~1e12 events) it is a multi-day
    single-node job and parallelism is the ONLY lever. Use
    applyInPandasWithState ONLY when per-key logic genuinely needs
    imperative Python; everything expressible as windows/aggregations/
    dedup has a JVM twin in this repo (stream_dedup_events,
    stream_hourly_rollup, session windows, interval joins) that runs
    ~10-50x this throughput. The BENCH.md r7/r8 streaming-floor anatomy
    carries the numbers."""
    from ..streaming.stateful import running_position_tracker

    d = scratch_dir("stateful_q_")
    # r12 (guide §4 — pass only the columns the function needs): the
    # stateful fold reads exactly (user_id, event_type, value), so only
    # those three cross the temp-parquet write, the state-store shuffle,
    # and the JVM→Python Arrow boundary. The previous 5-column feed also
    # carried event_id + ts (unused by _update_position) through every
    # stage — applyInPandasWithState ships ALL input columns to the Python
    # worker because Spark cannot see which ones the function touches.
    events = read_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    )
    events.write.mode("overwrite").parquet(d)
    src = spark.readStream.schema(spark.read.parquet(d).schema).parquet(d)
    q = (
        running_position_tracker(src)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("__stream_position_tracker")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    out = spark.table("__stream_position_tracker")
    # update mode re-emits per batch: final state = row with max n_events
    final = out.groupBy("user_id").agg(
        F.max(F.struct("n_events", "net_value")).alias("s")
    )
    return final.select(
        "user_id",
        F.round(F.col("s.net_value"), 4).alias("net_value"),
        F.col("s.n_events").alias("n_events"),
    )
