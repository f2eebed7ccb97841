"""Advanced-operator driver queries: IVF ANN search, salted skew join,
streaming rollup surfaced as a batch-checkable query."""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import session_cache
from ..scratch import scratch_dir
from ..sources.tables import read_table
from . import query


# IVF index cache: the coarse quantizer (centroid bank + assignment plan)
# is an INDEX — built once per corpus, queried many times. Rebuilding it on
# every search (two Lloyd collects + literal-bank plan construction) is
# pure waste, exactly like re-training an IVF index per query in Faiss.
# Keyed by session + corpus dir; deterministic, so a rebuild would produce
# the identical index.
_IVF_INDEX: dict[tuple[str, str], tuple[DataFrame, DataFrame]] = {}


@query("ivf_cosine_topk")  # rows-only: centroid seeding is engine-defined
def ivf_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest-neighbor: deterministic k-means coarse
    quantizer + n_probe cluster search (the scale path beside LSH; scan
    cost ≈ n_probe/n_centroids of the corpus). The quantizer is cached per
    (session, corpus) — index construction amortizes over searches.

    Recall/probe trade (measured at sf0.01, 20 queries, k=10): the
    synthetic embeddings are near-isotropic — the WORST case for a coarse
    quantizer, since true neighbors scatter across clusters — so recall@10
    is 0.62 at n_probe=3/8 and first clears 0.9 at n_probe=6/8 (0.93).
    n_probe=6 is pinned by the quantified recall gate in
    tests/test_advanced_ops.py; on real (clustered) embedding corpora the
    same ≥0.9 recall arrives at much lower probe fractions — tune n_probe
    down per-corpus against the full-probe twin."""
    from ..operators.similarity import ivf_assign, ivf_topk

    emb = read_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") != 0)
    qdf = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    # session-scoped (identity-checked, evicting) — functions/session_cache
    assigned, centroids = session_cache.get_df(
        _IVF_INDEX, spark, sf_dir,
        lambda: ivf_assign(corpus),
        df_of=lambda v: v[0],
    )
    return ivf_topk(assigned, centroids, qdf, k=10, n_probe=6)


@query(
    "salted_hot_key_join",
    oracle="""
    SELECT e.event_type, count(*) AS n, round(sum(d.weight), 4) AS weighted
    FROM events e
    JOIN (VALUES ('view', 1.0), ('click', 2.0), ('purchase', 5.0),
                 ('signup', 3.0), ('error', 0.5)) AS d(event_type, weight)
      ON e.event_type = d.event_type
    GROUP BY e.event_type
    """,
)
def salted_hot_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join on a 5-value key (every key is 'hot' at scale: ~n/5 rows
    each). The salt spreads each key over 8 shuffle partitions; results are
    identical to the plain join — which is exactly what the oracle checks."""
    from ..operators.skew import salted_join

    events = read_table(spark, sf_dir, "events")
    dim = spark.createDataFrame(
        [("view", 1.0), ("click", 2.0), ("purchase", 5.0), ("signup", 3.0), ("error", 0.5)],
        "event_type string, weight double",
    )
    joined = salted_join(events, dim, key="event_type")
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("weight"), 4).alias("weighted"),
    )


@query(
    "stream_hourly_rollup",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 4) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hourly cadence (reference main.py:359) as an ACTUAL Structured
    Streaming query, surfaced batch-style for the oracle: events parquet →
    readStream → tumbling 1h window + watermark → drain with availableNow
    into a memory table → return it. Proves the streaming plan computes the
    same rollup as the batch SQL."""
    from ..streaming.jobs import windowed_event_agg

    d = scratch_dir("stream_src_")
    events = read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    events.write.mode("overwrite").parquet(d)
    src = spark.readStream.schema(spark.read.parquet(d).schema).parquet(d)
    agg = windowed_event_agg(src)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("__stream_hourly_rollup")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    out = spark.table("__stream_hourly_rollup")
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n",
        F.round("total_value", 4).alias("total_value"),
    )


def _events_stream(spark: SparkSession, sf_dir: str, prefix: str):
    """events table → file-backed streaming source (availableNow drains it
    deterministically; the same builders run against live sources)."""
    d = scratch_dir(prefix + "src-")
    events = read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    events.write.mode("overwrite").parquet(d)
    return spark.readStream.schema(spark.read.parquet(d).schema).parquet(d)


def _drain(agg: DataFrame, name: str, mode: str = "complete") -> None:
    """Drain a bounded-state stream into a driver memory table.

    ONLY for complete-mode aggregates whose state/result is small (window ×
    type cardinality); append-mode firehoses must use ``_drain_to_files``
    (a memory sink holds every emitted row on the driver heap). A timed-out
    drain STOPS the query and raises — a live background stream after a
    timeout starves the local scheduler of task slots and wedges every
    later job in the session (observed as a silent audit hang at sf10)."""
    q = (
        agg.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError(f"streaming drain {name!r} exceeded 600s; query stopped")


def _rocksdb_state(sf_dir: str) -> bool:
    """Size-gated state-store provider choice (the CBO pattern used across
    the repo): the heap (HDFSBacked) provider holds every state entry as
    deserialized rows — ~150 B/key — so it wins while total keyed state
    fits comfortably (measured sf10, 10M dedup keys ≈ 1.5 GB: heap drain
    5.0 s vs RocksDB 18.1 s — RocksDB pays per-key write amplification),
    and becomes a JVM-killer beyond (~100M keys at sf100 would be ~15 GB
    on an 8 GB heap). 200 MB of events parquet ≈ 13M rows ≈ 2 GB of heap
    state is the cutover; unknown size → conservative RocksDB, the 100-TB
    default."""
    from ..sources.tables import table_bytes

    eb = table_bytes(sf_dir, "events")
    return eb == 0 or eb > (200 << 20)


@contextlib.contextmanager
def _state_store(spark: SparkSession, rocksdb: bool):
    """Scope the RocksDB state-store provider to one drain when ``rocksdb``;
    the session's prior provider (or none, then the key is unset) comes
    back afterwards."""
    if not rocksdb:
        yield
        return
    key = "spark.sql.streaming.stateStore.providerClass"
    prior = spark.conf.get(key, None)
    spark.conf.set(
        key, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    try:
        yield
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


def _drain_to_files(out: DataFrame, prefix: str, rocksdb: bool = False) -> str:
    """Drain an append-mode stream to a parquet directory — the DISTRIBUTED
    sink: emitted rows go executor→files, never collecting on the driver
    (an append-mode memory sink at sf10 is ~15M rows of driver heap; this
    is what a real deployment writes anyway). ``rocksdb=True`` scopes the
    RocksDB state-store provider to this drain, so large keyed state
    (e.g. one entry per event_id in a dedup) lives on local disk instead
    of executor heap — the 100-TB state backend. Returns the output dir."""
    d = scratch_dir(prefix)
    with _state_store(out.sparkSession, rocksdb):
        q = (
            out.writeStream.outputMode("append")
            .format("parquet")
            .option("path", d + "/data")
            .option("checkpointLocation", d + "/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            q.stop()
            raise RuntimeError(f"streaming file drain {prefix!r} exceeded 600s; query stopped")
    return d + "/data"


def _drain_complete_to_files(agg: DataFrame, prefix: str, rocksdb: bool = False) -> str:
    """Drain a COMPLETE-mode aggregate distributed: ``foreachBatch``
    overwrites a parquet dir with each trigger's full result, so the final
    trigger leaves the complete result on disk, executor-written. Complete
    mode is required when trailing windows would never pass the watermark
    (e.g. the last session per key under availableNow), but a memory sink
    would put the ENTIRE result on the driver heap — fine for a rollup of
    a few thousand groups, not for per-key session tables at corpus scale.
    ``rocksdb=True`` moves the aggregate's O(result) keyed STATE off-heap
    too — complete mode retains every group in the state store between
    triggers, which heap-OOM'd the 8 GB JVM at sf100 (~100M events' worth
    of per-user sessions; caught by the r7 full-registry audit). Returns
    the output dir."""
    d = scratch_dir(prefix)

    def write_batch(batch_df: DataFrame, _epoch: int) -> None:
        batch_df.write.mode("overwrite").parquet(d + "/data")

    with _state_store(agg.sparkSession, rocksdb):
        q = (
            agg.writeStream.outputMode("complete")
            .foreachBatch(write_batch)
            .option("checkpointLocation", d + "/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            q.stop()
            raise RuntimeError(f"complete-mode drain {prefix!r} exceeded 600s; query stopped")
    return d + "/data"


@query(
    "stream_sliding_rollup",
    oracle="""
    WITH starts AS (
        SELECT time_bucket(INTERVAL '30 minutes', ts) AS ws, event_type, value
        FROM events
        UNION ALL
        SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes',
               event_type, value
        FROM events
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S')                    AS window_start,
           strftime(ws + INTERVAL '1 hour', '%Y-%m-%d %H:%M:%S') AS window_end,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 4)     AS total_value
    FROM starts
    GROUP BY ws, event_type
    """,
)
def stream_sliding_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (1h window / 30min slide) as a streaming
    query drained batch-style. Every event lands in exactly two windows;
    the oracle replays that expansion with time_bucket (epoch-aligned, the
    same phase as Spark's window())."""
    from ..streaming.jobs import windowed_event_agg

    src = _events_stream(spark, sf_dir, "stream_slide_")
    agg = windowed_event_agg(src, slide="30 minutes")
    _drain(agg, "__stream_sliding_rollup")
    return spark.table("__stream_sliding_rollup").select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        F.date_format("window_end", "yyyy-MM-dd HH:mm:ss").alias("window_end"),
        "event_type",
        "n",
        F.round("total_value", 4).alias("total_value"),
    )


@query(
    "stream_session_windows",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    numbered AS (
        SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked
    )
    SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts) + INTERVAL '30 minutes', '%Y-%m-%d %H:%M:%S') AS session_end,
           user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4)     AS total_value
    FROM numbered
    GROUP BY user_id, sid
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time session windows (30min gap) per user as a streaming
    query. The oracle is the classic batch island detection (gap-marked
    lag + running sum); Spark's session_window ends at last_event + gap
    and starts a NEW session when the inter-event gap reaches the gap
    duration — both mirrored exactly."""
    from ..streaming.jobs import session_window_agg

    src = _events_stream(spark, sf_dir, "stream_sess_")
    agg = session_window_agg(src)
    # Complete mode is semantics (trailing sessions never pass the final
    # watermark in append), but the result is one row per session — a
    # per-key table that must not collect on the driver; foreachBatch
    # overwrite keeps the drain distributed.
    out_dir = _drain_complete_to_files(agg, "stream_sess_out_", rocksdb=_rocksdb_state(sf_dir))
    return spark.read.parquet(out_dir).select(
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        "user_id",
        F.col("n_events"),
        F.round("total_value", 4).alias("total_value"),
    )


@query(
    "stream_interval_join",
    oracle="""
    SELECT l.event_id AS purchase_id,
           r.event_id AS click_id,
           l.user_id  AS user_id,
           strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           strftime(r.ts, '%Y-%m-%d %H:%M:%S') AS click_ts
    FROM events l
    JOIN events r
      ON l.user_id = r.user_id
     AND r.ts >= l.ts
     AND r.ts <= l.ts + INTERVAL '1 hour'
    WHERE l.event_type = 'purchase' AND r.event_type = 'click'
    """,
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with an event-time interval condition
    (clicks within 1h after a purchase, per user). Both sides are live
    streams with watermarks bounding join state; the oracle is the plain
    batch interval join over the same events."""
    from ..streaming.jobs import stream_stream_interval_join

    purchases = _events_stream(spark, sf_dir, "stream_ij_l_").filter(
        F.col("event_type") == "purchase"
    )
    clicks = _events_stream(spark, sf_dir, "stream_ij_r_").filter(
        F.col("event_type") == "click"
    )
    joined = stream_stream_interval_join(purchases, clicks)
    # Append-mode join output and both sides' join state are O(events) —
    # distributed file sink + size-gated state provider, same rationale
    # as stream_dedup_events (driver memory sink wedged the sf10 audit).
    out_dir = _drain_to_files(joined, "stream_ij_out_", rocksdb=_rocksdb_state(sf_dir))
    return spark.read.parquet(out_dir).select(
        F.col("event_id").alias("purchase_id"),
        F.col("event_id_r").alias("click_id"),
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.date_format("ts_r", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
    )


@query(
    "stream_dedup_events",
    oracle="""
    SELECT event_id, user_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
           round(value, 4) AS value
    FROM events
    """,
)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup (``dropDuplicatesWithinWatermark``): the
    events feed is written TWICE into the source directory (every event
    arrives duplicated, same event time), and the stream must emit each
    event_id exactly once. Duplicates share a timestamp, so they are always
    inside the watermark horizon and the dedup guarantee is exact — the
    oracle is simply the original events table. State is bounded: keys
    older than the watermark are dropped (streaming analog of the
    ``dedup_exact`` query)."""
    from ..streaming.jobs import stream_dedup

    d = scratch_dir("stream_dedup_")
    events = read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    events.write.mode("append").parquet(d)
    events.write.mode("append").parquet(d)
    src = spark.readStream.schema(spark.read.parquet(d).schema).parquet(d)
    deduped = stream_dedup(src, keys=["event_id"])
    # Distributed file sink + size-gated state provider: the dedup keeps
    # one state entry per event_id, and append mode emits the full deduped
    # stream — both are O(|events|), so neither may land on the driver
    # heap (a memory-sink drain at sf10 exhausted the heap, killed task
    # threads, and leaked every local scheduler core — the session then
    # hung on the NEXT job with 0 running tasks). Provider: heap while
    # the key set fits (3.6x faster at sf10), RocksDB beyond
    # (_rocksdb_state).
    out_dir = _drain_to_files(deduped, "stream_dedup_out_", rocksdb=_rocksdb_state(sf_dir))
    return spark.read.parquet(out_dir).select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.round("value", 4).alias("value"),
    )


@query(
    "ivf_full_probe_topk",
    oracle="""
    WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
               FROM embeddings WHERE vec_id = 0),
    sims AS (
        SELECT e.vec_id,
               round(list_cosine_similarity(
                   list_transform(e.embedding, x -> CAST(x AS DOUBLE)), q.qv), 6) AS cosine
        FROM embeddings e, q
        WHERE e.vec_id <> 0
    )
    SELECT vec_id, cosine FROM sims
    ORDER BY cosine DESC, vec_id LIMIT 10
    """,
)
def ivf_full_probe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with FULL probing (n_probe = n_centroids) must equal exact
    brute-force top-k — which gives the engine-defined index machinery
    (k-means assignment, cluster bucketing, the isin-pruned search scan)
    an exact SQL oracle: whatever centroids k-means produced, probing every
    cluster covers the whole corpus, so any discrepancy vs the brute-force
    SQL is a real bug in the index path. Partial-probe ANN recall behavior
    stays covered by ivf_cosine_topk (rows-only by design)."""
    from ..operators.similarity import ivf_assign, ivf_topk

    emb = read_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") != 0)
    qdf = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    # session-scoped (identity-checked, evicting) — functions/session_cache
    assigned, centroids = session_cache.get_df(
        _IVF_INDEX, spark, sf_dir,
        lambda: ivf_assign(corpus),
        df_of=lambda v: v[0],
    )
    out = ivf_topk(assigned, centroids, qdf, k=10, n_probe=8)
    return out.select("vec_id", F.round("cosine", 6).alias("cosine"))


@query("hll_sketch_rollup")  # rows-only: datasketches estimates are engine-defined
def hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (Apache DataSketches HLL via
    hll_sketch_agg / hll_union_agg) — THE 100-TB pattern for distinct
    users: pre-aggregate one kilobyte-sized sketch per partition/day,
    persist it, and answer any coarser rollup later by merging sketches
    instead of rescanning raw data. Per-priority sketches plus the
    merged all-priorities row computed FROM the sketches (never from the
    fact table twice). No oracle: estimates are engine-defined; the
    mergeability law (union-of-sketches tracks sketch-of-union within
    estimator noise, both within rsd of exact) is pytest-asserted in
    tests/test_operators.py."""
    orders = read_table(spark, sf_dir, "orders")
    per = orders.groupBy("o_orderpriority").agg(
        F.hll_sketch_agg("o_custkey").alias("sk"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    detail = per.select(
        "o_orderpriority",
        F.hll_sketch_estimate("sk").alias("approx_customers"),
        "n_orders",
    )
    merged = per.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_customers"),
        F.sum("n_orders").alias("n_orders"),
    ).select(F.lit("ALL").alias("o_orderpriority"), "approx_customers", "n_orders")
    return detail.unionByName(merged)


@query(
    "stream_static_enrich",
    oracle="""
    SELECT strftime(date_trunc('hour', e.ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           c.c_mktsegment AS tier,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(e.value), 4)   AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def stream_static_enrich_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–static enrichment join (streaming/jobs.py:
    stream_static_enrich): the events stream joins the static customer
    dimension per micro-batch (broadcast, stateless) and rolls up per
    (hour, tier). Drained with availableNow into a memory table; the
    oracle is the equivalent batch join + rollup — proving the streaming
    enrichment plan computes exactly the batch semantics."""
    from ..streaming.jobs import stream_static_enrich

    src = _events_stream(spark, sf_dir, "stream_static_")
    dim = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("tier")
    )
    agg = stream_static_enrich(src, dim, on="user_id")
    _drain(agg, "__stream_static_enrich")
    return spark.table("__stream_static_enrich").select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "tier",
        "n",
        F.round("total_value", 4).alias("total_value"),
    )


@query(
    "session_window_rollup",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts, value,
               CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w IS NULL
                         OR epoch(ts) - lag(epoch(ts)) OVER w > 1800
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts, value,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS total_value
    FROM sess
    GROUP BY user_id, sid
    """,
)
def session_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native batch session_window() aggregation (gap-based dynamic
    windows INSIDE the aggregate — no window-function pass): per-user
    sessions with a 30-minute gap. The oracle derives identical sessions
    with the lag/cumulative-sum island method, proving the built-in's
    semantics (window end = last event + gap) against first principles.
    Complements `sessionization` (the island form as an engine query)
    and the streaming session_window in streaming/jobs.py."""
    events = read_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.session_window("ts", "30 minutes"), F.col("user_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            "user_id",
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("session_window.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


@query(
    "merge_upsert_orders",
    oracle="""
    WITH target AS (
        SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice
        FROM orders
    ),
    source AS (
        SELECT o_orderkey, 'U' AS o_orderstatus,
               round(o_totalprice, 2) + 1000.0 AS o_totalprice
        FROM orders WHERE o_orderpriority = '1-URGENT'
        UNION ALL
        SELECT o_orderkey + 10000000, 'N', round(o_totalprice, 2)
        FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 97 = 0
    )
    SELECT coalesce(s.o_orderkey, t.o_orderkey) AS o_orderkey,
           coalesce(s.o_orderstatus, t.o_orderstatus) AS o_orderstatus,
           coalesce(s.o_totalprice, t.o_totalprice) AS o_totalprice
    FROM target t FULL OUTER JOIN source s USING (o_orderkey)
    """,
)
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics without a table format (operators/merge.py):
    urgent orders arrive as updates (status U, +1000 price), a sampled
    set of new keys as inserts; matched rows take source values,
    unmatched target rows carry forward — one co-keyed full-outer
    shuffle join, map-side per-column coalesce. The oracle is the
    textbook FULL JOIN + COALESCE expansion of the same MERGE."""
    from ..operators.merge import merge_upsert

    orders = read_table(spark, sf_dir, "orders")
    target = orders.select(
        "o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("o_totalprice")
    )
    # +1000.0 (an exactly-representable shift of the already-rounded
    # value) instead of *1.1: a multiplicative bump re-lands on .005
    # boundaries where Spark HALF_UP and DuckDB HALF_EVEN disagree.
    updates = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        (F.round("o_totalprice", 2) + 1000.0).alias("o_totalprice"),
    )
    inserts = orders.filter(
        (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 97 == 0)
    ).select(
        (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        F.round("o_totalprice", 2).alias("o_totalprice"),
    )
    return merge_upsert(target, updates.unionByName(inserts), keys=["o_orderkey"])


@query(
    "stream_ohlc_bars",
    oracle="""
    WITH b AS (
        SELECT event_type, date_trunc('hour', ts) AS bar, value,
               first_value(value) OVER w AS o,
               last_value(value) OVER w AS c
        FROM events
        WINDOW w AS (PARTITION BY event_type, date_trunc('hour', ts)
                     ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, strftime(bar, '%Y-%m-%d %H:%M:%S') AS bar_ts,
           round(max(o), 2) AS open, round(max(value), 2) AS high,
           round(min(value), 2) AS low, round(max(c), 2) AS close,
           CAST(count(*) AS BIGINT) AS n_trades
    FROM b GROUP BY event_type, bar
    """,
)
def stream_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OHLC candlestick resample as an ACTUAL Structured Streaming
    job — the production form of ohlc_hourly_bars: readStream → tumbling
    1 h event-time window + watermark → min_by/max_by((ts, event_id))
    open/close → availableNow drain into a memory table.

    The open/close aggregates here are min_by/max_by with a STRUCT
    ordering key rather than the batch query's window-then-agg: a
    streaming aggregation cannot run an unbounded window frame, but
    min_by carries (key, value) state of O(1) per (instrument, bar)
    group — the correct incremental form, and exactly what makes OHLC
    streamable at any rate. Watermark 0 s because the drain is a
    replayed batch; production sets minutes. The DuckDB oracle replays
    the same semantics in the batch window form (arg_min in DuckDB 1.0
    cannot take a struct ordering key), proving stream == batch — the
    Kappa-architecture parity check."""
    d = scratch_dir("stream_ohlc_")
    events = read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    events.write.mode("overwrite").parquet(d)
    src = spark.readStream.schema(spark.read.parquet(d).schema).parquet(d)
    key = F.struct(F.col("ts"), F.col("event_id"))
    agg = (
        src.withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.round(F.min_by("value", key), 2).alias("open"),
            F.round(F.max("value"), 2).alias("high"),
            F.round(F.min("value"), 2).alias("low"),
            F.round(F.max_by("value", key), 2).alias("close"),
            F.count(F.lit(1)).cast("long").alias("n_trades"),
        )
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("__stream_ohlc_bars")
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(300):
            raise TimeoutError("stream_ohlc_bars drain did not finish in 300s")
    finally:
        q.stop()
    out = spark.table("__stream_ohlc_bars")
    return out.select(
        "event_type",
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("bar_ts"),
        "open",
        "high",
        "low",
        "close",
        "n_trades",
    )
