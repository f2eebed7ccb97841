"""Window-function operators over the snapshot time series.

The reference's output is an hourly append-only time series per
(user, pool) (main.py:271-273, 345-351); these operators are the analytics
that data model exists to serve — snapshot-over-snapshot deltas, moving
averages, sessionization. Origin: SURVEY.md §2B "Window functions" (K1 +
the F3/F4 argmax are the reference's only windowing-shaped logic).

All are single-shuffle ``Window.partitionBy(keys).orderBy(...)`` plans.
Ordering always includes a unique tie-breaker column so results are
deterministic (SURVEY.md §2C.6 nondeterminism watch-list).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _order(order_by: Sequence[str | Column]) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in order_by]


def snapshot_delta(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str | Column],
    value_col: str,
    out: str = "delta",
) -> DataFrame:
    """Row-over-row delta of ``value_col`` within each key's time series
    (lag). E.g. hourly fee growth, which the reference computes implicitly
    by appending rows each cycle (main.py:345-351)."""
    w = Window.partitionBy(*keys).orderBy(*_order(order_by))
    return df.withColumn(out, F.col(value_col) - F.lag(value_col).over(w))


def moving_agg(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str | Column],
    value_col: str,
    preceding: int,
    fn: str = "avg",
    out: str = "moving",
) -> DataFrame:
    """Moving aggregate over the last ``preceding``+1 rows per key
    (ROWS BETWEEN n PRECEDING AND CURRENT ROW)."""
    w = (
        Window.partitionBy(*keys)
        .orderBy(*_order(order_by))
        .rowsBetween(-preceding, Window.currentRow)
    )
    agg = {"avg": F.avg, "sum": F.sum, "max": F.max, "min": F.min, "count": F.count}[fn]
    return df.withColumn(out, agg(value_col).over(w))


def sessionize(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    gap_seconds: int,
) -> DataFrame:
    """Assign batch session ids (column ``session_id``): a new session
    starts when the gap since the previous event in the key group exceeds
    ``gap_seconds``. Events at one timestamp order by ``event_id``.

    lag + conditional cumsum — the standard two-window single-shuffle plan
    (both windows share partitioning/ordering, so Catalyst plans ONE
    shuffle + sort). The streaming twin is ``session_window`` in
    streaming/jobs.py.
    """
    order = _order([ts_col, "event_id"])
    w = Window.partitionBy(*keys).orderBy(*order)
    gap = F.col(ts_col).cast("long") - F.lag(F.col(ts_col).cast("long")).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_seconds), F.lit(1)).otherwise(F.lit(0))
    cum = Window.partitionBy(*keys).orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn("session_id", F.sum(is_new).over(cum))
