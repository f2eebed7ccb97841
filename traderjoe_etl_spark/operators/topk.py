"""Top-k operators.

Origin: the reference's only limit is a ``pageSize=100`` pushed to the API
(main.py:31); the engine generalizes to global and per-group top-k
(SURVEY.md §2B "Sorts / limits / top-k").

``top_k`` compiles to ``TakeOrderedAndProject`` — each partition keeps a
k-row heap, the driver merges k·p rows; no global sort, no full shuffle.
That is exactly the 100-TB-safe plan. ``top_k_per_group`` is the windowed
variant (one shuffle on the group keys; AQE splits skewed groups).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _desc_order(order_by: Sequence[str | Column]) -> list[Column]:
    return [F.col(c).desc() if isinstance(c, str) else c for c in order_by]


def top_k(df: DataFrame, order_by: Sequence[str | Column], k: int) -> DataFrame:
    """Global top-k by ``order_by`` (strings are ordered descending; pass
    Column expressions for custom direction). Always include a unique
    tie-breaker for deterministic results."""
    return df.orderBy(*_desc_order(order_by)).limit(k)


def top_k_per_group(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str | Column],
    k: int,
    keep_rank: bool = False,
) -> DataFrame:
    """Top-k rows per key group via ``row_number`` over a descending
    window; ``keep_rank`` keeps the rank as column ``rn``."""
    w = Window.partitionBy(*keys).orderBy(*_desc_order(order_by))
    ranked = df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    return ranked if keep_rank else ranked.drop("rn")
