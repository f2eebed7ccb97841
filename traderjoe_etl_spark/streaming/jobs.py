"""Structured Streaming jobs — the reference's scheduler loop generalized.

The reference's only "streaming" is ``while True: main(); sleep(3600)``
(main.py:353-359) stamping wall-clock rows — processing-time, no event-time
semantics; the CLI's ``run`` (``__main__.py``) is one such cycle. This
module is the event-time generalization (SURVEY.md §2B Streaming): tumbling/sliding windows +
watermarks for late snapshots, session windows on the events stream,
stateful dedup via ``dropDuplicatesWithinWatermark``.

All builders accept any streaming DataFrame with the events stream's
``ts`` event-time column, so tests can feed them from a file source and
drain synchronously with ``processAllAvailable``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TS = "ts"
# Event-time bounds: hourly windows and 30-minute session gaps with no
# lateness allowed, two hours of dedup state, stream-stream matches within
# an hour.
WINDOW = "1 hour"
NO_LATENESS = "0 seconds"
SESSION_GAP = "30 minutes"
DEDUP_WATERMARK = "2 hours"
JOIN_WITHIN = "1 hour"


def windowed_event_agg(events: DataFrame, slide: str | None = None) -> DataFrame:
    """Tumbling (or sliding, if ``slide``) ``WINDOW`` aggregation per
    ``event_type`` under a ``NO_LATENESS`` watermark.

    The tumbling 1-hour case is the reference's cadence (main.py:359) made
    event-time-correct; state for closed windows is dropped (bounded
    memory at any scale)."""
    win = F.window(F.col(TS), WINDOW, slide) if slide else F.window(F.col(TS), WINDOW)
    return (
        events.withWatermark(TS, NO_LATENESS)
        .groupBy(win, "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def session_window_agg(events: DataFrame) -> DataFrame:
    """Event-time session windows (``SESSION_GAP``) per ``user_id`` under a
    ``NO_LATENESS`` watermark — the streaming twin of
    operators.windows.sessionize."""
    return (
        events.withWatermark(TS, NO_LATENESS)
        .groupBy(F.session_window(F.col(TS), SESSION_GAP), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


def stream_dedup(events: DataFrame, keys: list[str]) -> DataFrame:
    """Stateful exact dedup within the ``DEDUP_WATERMARK`` horizon
    (``dropDuplicatesWithinWatermark``) — the streaming analog of the
    ``dedup_exact`` query's batch dedup, with bounded state."""
    return events.withWatermark(TS, DEDUP_WATERMARK).dropDuplicatesWithinWatermark(keys)


def stream_stream_interval_join(left: DataFrame, right: DataFrame) -> DataFrame:
    """Stream-stream inner join with an event-time interval condition:
    right-side events matching the same ``user_id`` within ``[left.ts,
    left.ts + JOIN_WITHIN]``, both sides under a 2-hour watermark. Both
    sides carry watermarks so the join state for expired time ranges is
    dropped — bounded state at any scale, the
    streaming analog of the range join (SURVEY.md §2B joins; the
    reference's J1/J2 lookups generalized to two live feeds).

    Right-side columns (except the key) come back suffixed ``_r``."""
    key = "user_id"
    r = right
    for c in right.columns:
        if c != key:
            r = r.withColumnRenamed(c, f"{c}_r")
    lw = left.withWatermark(TS, "2 hours")
    rw = r.withWatermark(f"{TS}_r", "2 hours")
    cond = (
        (lw[key] == rw[key])
        & (rw[f"{TS}_r"] >= lw[TS])
        & (rw[f"{TS}_r"] <= F.col(TS) + F.expr(f"INTERVAL {JOIN_WITHIN}"))
    )
    return lw.join(rw, cond, "inner").drop(rw[key])


def stream_static_enrich(stream: DataFrame, dim: DataFrame, on: str) -> DataFrame:
    """Stream–static join + ``WINDOW`` rollup per the dim's ``tier`` (no
    lateness allowed): each micro-batch hash-joins
    the (small) static dimension — stateless, no join state to watermark,
    the standard enrichment shape for reference data (user tiers, pool
    metadata). The dim is broadcast so the stream side never shuffles
    before its windowed aggregate."""
    enriched = stream.join(F.broadcast(dim), on=on)
    return (
        enriched.withWatermark(TS, NO_LATENESS)
        .groupBy(F.window(F.col(TS), WINDOW), "tier")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "tier",
            "n",
            "total_value",
        )
    )
