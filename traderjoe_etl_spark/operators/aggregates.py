"""Aggregation operators.

Generalizes the reference's scalar aggregations (max: main.py:130, 132;
sum: main.py:134-135, 158-167) and its packed-string rendering
(main.py:163-170, 239-244) into keyed, distributed operators.

Scale notes: every ``groupBy().agg()`` here compiles to partial (map-side)
+ final aggregation, so the shuffle carries one row per (partition, key),
not per input row. ``argmax_rows`` uses a window, which shuffles once on the
partition keys; at 100 TB that is the unavoidable single shuffle for
"latest event per key" and AQE handles skewed keys.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_AGG_FNS = {
    "sum": F.sum,
    "max": F.max,
    "min": F.min,
    "avg": F.avg,
    "mean": F.avg,
    "count": F.count,
    "count_distinct": F.countDistinct,
    "approx_count_distinct": F.approx_count_distinct,
    "first": F.first,
    "stddev": F.stddev,
    "collect_list": F.collect_list,
}


def group_agg(df: DataFrame, keys: Sequence[str], aggs: Mapping[str, tuple[str, str]]) -> DataFrame:
    """``groupBy(keys).agg(...)`` from a spec ``{out_name: (fn, col)}``.

    The declarative form of the reference's per-frame scalar reductions
    (main.py:130-135); partial aggregation is automatic.
    """
    exprs = [_AGG_FNS[fn](col).alias(out) for out, (fn, col) in aggs.items()]
    return df.groupBy(*keys).agg(*exprs)


def argmax_rows(df: DataFrame, keys: Sequence[str], order_cols: Sequence[str | Column]) -> DataFrame:
    """Keep, per key group, ALL rows tied at the maximum of ``order_cols``
    (lexicographic, descending).

    This is the reference's two-step "latest deposit" selection
    (main.py:130-133: max blockNumber, then max timestamp within it) as one
    operator. Tie behavior is load-bearing: every row at the max survives so
    downstream sums (main.py:134-135) include all of them — hence ``rank()``,
    not ``row_number()`` (SURVEY.md §2C.4).

    With empty ``keys`` (the reference's case — it processes one pair at a
    time) a global window would drag everything to ONE partition; instead we
    aggregate the lexicographic max (``max(struct(...))`` — partial+final,
    no shuffle of the data) and broadcast it back as a filter.
    """
    if not keys:
        mx = df.agg(F.max(F.struct(*order_cols)).alias("__mx"))
        return (
            df.crossJoin(F.broadcast(mx))
            .filter(F.struct(*order_cols) == F.col("__mx"))
            .drop("__mx")
        )
    order = [F.col(c).desc() if isinstance(c, str) else c.desc() for c in order_cols]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rk", F.rank().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk")
    )


def packed_string_sql(key: str, values: Sequence[str], render: str = "CAST(v AS STRING)") -> str:
    """SQL text of the aggregate joining one ``"key: value, value"`` item
    per row of the group, sorted by ``key``, as ``"(item; item; …)"`` —
    the one place the packed per-bin strings ``"(binId: x, y; …)"``
    (main.py:163-170, 239-244) are built. The reference relies on API
    response order; distributed collection has no such order, so rows are
    sorted inside the group (SURVEY.md §2C.1).

    ``collect_list`` gathers the raw ``(bin, v0, v1, …)`` structs. Each
    item is rendered after the aggregate, all its values through one
    lambda; ``render`` is SQL text over the lambda variable ``v``. (The
    strict renderer calls ``reflect``, which is nondeterministic, and the
    analyzer refuses that inside an aggregate function's arguments.) Then
    ``array_sort`` (by the key, then the item) → the items → ``concat_ws``.
    All higher-order built-ins; spliced into SQL text (``build_snapshot``)
    or made a Column with ``F.expr``, it shares its ``GROUP BY`` with any
    sibling aggregates."""
    fields = "".join(f", 'v{i}', {v}" for i, v in enumerate(values))
    vals = ", ".join(f"s.v{i}" for i in range(len(values)))
    item = f"concat_ws(': ', CAST(s.bin AS STRING), concat_ws(', ', transform(array({vals}), v -> {render})))"
    return (
        f"concat('(', concat_ws('; ', transform(array_sort(transform(collect_list(named_struct('bin', {key}{fields})),"
        f" s -> named_struct('bin', s.bin, 'item', {item}))), s -> s.item)), ')')"
    )
