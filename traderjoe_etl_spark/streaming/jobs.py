"""Structured Streaming jobs — the reference's scheduler loop generalized.

The reference's only "streaming" is ``while True: main(); sleep(3600)``
(main.py:353-359) stamping wall-clock rows — processing-time, no event-time
semantics. That loop is the CLI's ``run --loop-seconds`` (``__main__.py``),
appending through ``sinks.append_snapshot``. This module is the event-time
generalization (SURVEY.md §2B Streaming): tumbling/sliding windows +
watermarks for late snapshots, session windows on the events stream,
stateful dedup via ``dropDuplicatesWithinWatermark``.

All builders accept any streaming DataFrame so tests can feed them from a
file source and drain synchronously with ``processAllAvailable``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_event_agg(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
    keys: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Tumbling (or sliding, if ``slide``) window aggregation with a
    watermark bounding state for late data.

    The tumbling 1-hour case is the reference's cadence (main.py:359) made
    event-time-correct: late snapshots up to the watermark still land in
    their hour; state for closed windows is dropped (bounded memory at any
    scale)."""
    win = F.window(F.col(ts_col), window, slide) if slide else F.window(F.col(ts_col), window)
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(win, *keys)
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *keys,
            "n",
            "total_value",
        )
    )


def session_window_agg(
    events: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    keys: tuple[str, ...] = ("user_id",),
) -> DataFrame:
    """Event-time session windows (gap-based) — the streaming twin of
    operators.windows.sessionize."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap), *keys)
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            *keys,
            "n_events",
            "total_value",
        )
    )


def stream_dedup(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stateful exact dedup within the watermark horizon
    (``dropDuplicatesWithinWatermark``) — the streaming analog of the
    ``dedup_exact`` query's batch dedup, with bounded state."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join with an event-time interval condition:
    right-side events matching the same ``key`` within ``[left.ts,
    left.ts + within]``. Both sides carry watermarks so the join state for
    expired time ranges is dropped — bounded state at any scale, the
    streaming analog of the range join (SURVEY.md §2B joins; the
    reference's J1/J2 lookups generalized to two live feeds).

    Right-side columns (except the key) come back suffixed ``_r``."""
    r = right
    for c in right.columns:
        if c != key:
            r = r.withColumnRenamed(c, f"{c}_r")
    lw = left.withWatermark(ts_col, watermark)
    rw = r.withWatermark(f"{ts_col}_r", watermark)
    cond = (
        (lw[key] == rw[key])
        & (rw[f"{ts_col}_r"] >= lw[ts_col])
        & (rw[f"{ts_col}_r"] <= F.col(ts_col) + F.expr(f"INTERVAL {within}"))
    )
    return lw.join(rw, cond, "inner").drop(rw[key])


def stream_static_enrich(
    stream: DataFrame,
    dim: DataFrame,
    on: str,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "0 seconds",
    agg_keys: tuple[str, ...] = (),
) -> DataFrame:
    """Stream–static join + windowed rollup: each micro-batch hash-joins
    the (small) static dimension — stateless, no join state to watermark,
    the standard enrichment shape for reference data (user tiers, pool
    metadata). The dim is broadcast so the stream side never shuffles
    before its windowed aggregate."""
    enriched = stream.join(F.broadcast(dim), on=on)
    return (
        enriched.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), *agg_keys)
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            *agg_keys,
            "n",
            "total_value",
        )
    )
