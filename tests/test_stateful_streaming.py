"""applyInPandasWithState position tracker: streaming result must equal the
batch fold, including state carried across multiple micro-batches."""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from traderjoe_etl_spark.sources.tables import read_table
from traderjoe_etl_spark.streaming.stateful import running_position_tracker


def test_position_tracker_matches_batch_fold(spark, sf_smoke, tmp_path):
    d = str(tmp_path)
    events = read_table(spark, sf_smoke, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    # two separate files → at least two micro-batch opportunities
    events.filter(F.col("event_id") % 2 == 0).write.parquet(d + "/a")
    events.filter(F.col("event_id") % 2 == 1).write.parquet(d + "/b")
    schema = spark.read.parquet(d + "/a").schema
    src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d + "/{a,b}")

    tracked = running_position_tracker(src)
    q = (
        tracked.writeStream.outputMode("update")
        .format("memory")
        .queryName("positions")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    # update mode: last emission per user is the final state
    final = spark.sql(
        """
        SELECT user_id, net_value, n_events FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY n_events DESC) AS rn
            FROM positions
        ) WHERE rn = 1
        """
    ).collect()

    sign = F.when(F.col("event_type") == "purchase", 1.0).when(
        F.col("event_type") == "error", -1.0
    ).otherwise(0.0)
    expected = {
        r.user_id: (r.net, r.n)
        for r in events.groupBy("user_id")
        .agg(F.sum(F.col("value") * sign).alias("net"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert len(final) == len(expected)
    for r in final:
        exp_net, exp_n = expected[r.user_id]
        assert r.n_events == exp_n, r.user_id
        assert abs(r.net_value - exp_net) < 1e-6, (r.user_id, r.net_value, exp_net)


def test_position_fold_skips_null_values():
    """A null `value` must be SKIPPED (Spark SQL sum semantics), not folded:
    NaN*0.0 is NaN and a plain numpy sum would propagate it, permanently
    poisoning the per-user net state. Unit-tests the kernel directly with a
    fake GroupState so the null path is pinned without a streaming query."""
    import numpy as np
    import pandas as pd

    from traderjoe_etl_spark.streaming.stateful import _update_position

    class _FakeState:
        exists = False

        def update(self, t):
            self.val = t

    st = _FakeState()
    pdf = pd.DataFrame(
        {
            "event_type": ["purchase", "view", "error", "purchase"],
            "value": [10.0, np.nan, 3.0, np.nan],
        }
    )
    out = list(_update_position(("u1",), [pdf], st))
    # null purchase skipped, null view (sign 0) skipped: 10 - 3 = 7; all 4 rows counted
    assert st.val == (7.0, 4)
    assert out[0]["net_value"].iloc[0] == 7.0 and out[0]["n_events"].iloc[0] == 4

    # state must stay finite and keep accumulating on the next batch
    st.exists = True
    st.get = st.val
    pdf2 = pd.DataFrame({"event_type": ["purchase"], "value": [1.5]})
    list(_update_position(("u1",), [pdf2], st))
    assert st.val == (8.5, 5)


def test_windowed_agg_on_rocksdb_state_store(spark, sf_smoke, tmp_path):
    """The scale-grade state backend: the same tumbling-window aggregation
    must produce batch-identical results with RocksDB state (the provider
    a 100-TB deployment runs — state spills to local disk instead of
    executor heap; rocksdbjni ships in the Spark distribution). The conf
    is set only for this query's lifetime and restored after."""
    from traderjoe_etl_spark.streaming.jobs import windowed_event_agg

    key = "spark.sql.streaming.stateStore.providerClass"
    prior = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        d = str(tmp_path)
        events = read_table(spark, sf_smoke, "events").select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
        events.filter(F.col("event_id") % 2 == 0).write.parquet(d + "/a")
        events.filter(F.col("event_id") % 2 == 1).write.parquet(d + "/b")
        schema = spark.read.parquet(d + "/a").schema
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d + "/{a,b}")
        )
        q = (
            windowed_event_agg(src)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("rocksdb_windows")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = {
            (r.window_start, r.event_type): (r.n, r.total_value)
            for r in spark.table("rocksdb_windows").collect()
        }
        exp = {
            (r.window_start, r.event_type): (r.n, r.total_value)
            for r in windowed_event_agg(events).collect()
        }
        # append mode emits only windows closed by the final watermark;
        # every emitted window must match the batch fold exactly
        assert got, "no windows emitted"
        for k, v in got.items():
            assert k in exp and abs(v[1] - exp[k][1]) < 1e-6 and v[0] == exp[k][0], k
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


def test_stream_position_tracker_keeps_one_scratch_feed(spark, sf_smoke, tmp_path, monkeypatch):
    """Each call writes its events feed to a scratch directory and reaps the
    previous call's, so repeated calls leave at most one behind."""
    from traderjoe_etl_spark.queries.stateful_queries import stream_position_tracker

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    for _ in range(2):
        assert stream_position_tracker(spark, sf_smoke).count() > 0
    assert len(list(tmp_path.glob("stateful_q_*"))) <= 1
