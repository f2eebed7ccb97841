"""Queries reproducing the reference pipeline's semantics on the driver's
synthetic tables.

Role mapping (FIXTURES.md §B): ``events`` plays the user_history stream —
``event_type='purchase'`` ≡ ``isDeposit`` (reference main.py:127),
``event_id`` ≡ ``blockNumber`` (argmax key #1, main.py:130-131), ``ts`` ≡
``timestamp`` (argmax key #2, main.py:132-133), ``value`` ≡ token amount
(summed at main.py:134-135), ``user_id`` ≡ the (user, pool) pair key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.aggregates import argmax_rows, packed_string_sql
from ..sources.tables import read_table
from . import query


@query(
    "latest_deposit_summary",
    oracle="""
    WITH deposits AS (
        SELECT * FROM events WHERE event_type = 'purchase'
    ), ranked AS (
        SELECT *, rank() OVER (ORDER BY event_id DESC, ts DESC) AS rk
        FROM deposits
    )
    SELECT user_id,
           round(sum(value), 4)                    AS total_value,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S')  AS most_recent_deposit_time
    FROM ranked WHERE rk = 1
    GROUP BY user_id
    """,
)
def latest_deposit_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's semantic heart (SURVEY.md §7.1): filter deposits →
    argmax by (blockNumber, timestamp) keeping ties → sum amounts + max ts
    (reference main.py:127-136). Global argmax (the reference runs one
    (user, pool) pair at a time, so its argmax has no partition key)."""
    events = read_table(spark, sf_dir, "events")
    deposits = events.filter(F.col("event_type") == "purchase")
    latest = argmax_rows(deposits, keys=[], order_cols=["event_id", "ts"])
    return latest.groupBy("user_id").agg(
        F.round(F.sum("value"), 4).alias("total_value"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("most_recent_deposit_time"),
    )


@query(
    "latest_deposit_per_user",
    oracle="""
    WITH deposits AS (
        SELECT * FROM events WHERE event_type = 'purchase'
    ), ranked AS (
        SELECT *, rank() OVER (PARTITION BY user_id ORDER BY event_id DESC, ts DESC) AS rk
        FROM deposits
    )
    SELECT user_id,
           round(sum(value), 4)                    AS total_value,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S')  AS most_recent_deposit_time
    FROM ranked WHERE rk = 1
    GROUP BY user_id
    """,
)
def latest_deposit_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed generalization of the F3/F4 argmax: latest deposit PER user —
    what the reference's per-pair driver loop (main.py:11-17) becomes when
    the loop is turned into data parallelism (SURVEY.md §3 EP2): one window
    shuffle on user_id instead of N sequential pipeline runs."""
    events = read_table(spark, sf_dir, "events")
    deposits = events.filter(F.col("event_type") == "purchase")
    latest = argmax_rows(deposits, keys=["user_id"], order_cols=["event_id", "ts"])
    return latest.groupBy("user_id").agg(
        F.round(F.sum("value"), 4).alias("total_value"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("most_recent_deposit_time"),
    )


@query(
    "fees_string_agg",
    oracle="""
    SELECT user_id,
           '(' || string_agg(CAST(event_id AS VARCHAR) || ': ' || CAST(round(value, 4) AS VARCHAR),
                             '; ' ORDER BY event_id) || ')' AS fees_per_bin,
           round(sum(value), 4) AS total_accrued
    FROM events
    WHERE event_type = 'click'
    GROUP BY user_id
    """,
)
def fees_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The packed per-bin fee string ``"(binId: feesX, feesY; …)"``
    (reference main.py:163-170) through the snapshot's packed-string builder:
    event_id plays binId, value plays the fee amount. Sorted by bin id
    inside the group (SURVEY.md §2C.1) — the reference relied on API order.
    """
    events = read_table(spark, sf_dir, "events").filter(F.col("event_type") == "click")
    packed = events.groupBy("user_id").agg(
        F.expr(packed_string_sql("event_id", ["round(value, 4)"])).alias("fees_per_bin")
    )
    totals = events.groupBy("user_id").agg(F.round(F.sum("value"), 4).alias("total_accrued"))
    return packed.join(totals, "user_id")


@query(
    "empty_group_defaults",
    oracle="""
    SELECT u.user_id,
           round(coalesce(sum(e.value), 0), 4) AS total_value,
           count(e.event_id)                   AS n_deposits
    FROM (SELECT DISTINCT user_id FROM events) u
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase' AND value > 900) e
      ON u.user_id = e.user_id
    GROUP BY u.user_id
    """,
)
def empty_group_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's empty-deposits branch (main.py:129, 143-153: zeros +
    NULL when no rows survive the filter), distributed: left-join the key
    universe against the filtered stream and coalesce defaults — no
    driver-side ``if df.empty`` branch."""
    events = read_table(spark, sf_dir, "events")
    universe = events.select("user_id").distinct()
    big_deposits = events.filter((F.col("event_type") == "purchase") & (F.col("value") > 900))
    return (
        universe.join(big_deposits, "user_id", "left")
        .groupBy("user_id")
        .agg(
            F.round(F.coalesce(F.sum("value"), F.lit(0.0)), 4).alias("total_value"),
            F.count("event_id").alias("n_deposits"),
        )
    )


@query(
    "derived_metrics_scrubbed",
    oracle="""
    SELECT user_id,
           fees_1d * 365                                             AS fees_annual,
           round(fees_1d * 365 / nullif(liquidity, 0) * 100, 4)      AS apr_pct,
           round((power(1 + fees_1d / nullif(liquidity, 0), 365) - 1) * 100, 4) AS apy_pct,
           round(fees_1d / nullif(liquidity, 0) * 100, 4)            AS apr_1d_pct
    FROM (
        SELECT user_id,
               round(sum(CASE WHEN event_type = 'click'    THEN value ELSE 0 END) / 1000.0, 6) AS fees_1d,
               round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END), 6)          AS liquidity
        FROM events
        GROUP BY user_id
    )
    """,
)
def derived_metrics_scrubbed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The D6 APR/APY derivation family (reference main.py:275-286):
    ``fees_annual = fees_1d*365``, ``APR% = fees_annual/liquidity*100``,
    ``APY% = ((1+fees_1d/liquidity)^365 - 1)*100``, with the /0 → inf →
    NULL scrub pinned as ``nullif(denom, 0)`` on both engines
    (SURVEY.md §2C.2). fees/liquidity are synthesized per user from the
    events stream."""
    from ..functions.scrub import safe_div

    events = read_table(spark, sf_dir, "events")
    base = events.groupBy("user_id").agg(
        F.round(
            F.sum(F.when(F.col("event_type") == "click", F.col("value")).otherwise(0.0)) / 1000.0, 6
        ).alias("fees_1d"),
        F.round(
            F.sum(F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0)), 6
        ).alias("liquidity"),
    )
    fees_ann = F.col("fees_1d") * 365
    return base.select(
        "user_id",
        fees_ann.alias("fees_annual"),
        F.round(safe_div(fees_ann, F.col("liquidity")) * 100, 4).alias("apr_pct"),
        F.round((F.pow(1 + safe_div(F.col("fees_1d"), F.col("liquidity")), 365) - 1) * 100, 4).alias("apy_pct"),
        F.round(safe_div(F.col("fees_1d"), F.col("liquidity")) * 100, 4).alias("apr_1d_pct"),
    )
