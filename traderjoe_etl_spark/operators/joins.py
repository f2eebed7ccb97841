"""Join operators.

The reference performs two left equi-joins on 1-row frames
(main.py:182-183). The engine exposes the full join menu (inner/left/right/
full/semi/anti — plain ``df.join``), and adds the two join shapes Spark
lacks as built-ins but a snapshot/time-series data model needs:

- broadcast dimension join (dims like region/nation/pool metadata are tiny
  at any scale — never shuffle the fact table for them),
- as-of join ("the last snapshot at or before this event's timestamp" —
  the natural query over the reference's append-only hourly snapshot CSV,
  main.py:345-351).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def broadcast_dim_join(fact: DataFrame, dim: DataFrame, on) -> DataFrame:
    """Inner equi-join with an explicit broadcast hint on the dimension side.

    At 100 TB the fact side must not shuffle for a kilobyte-scale dim;
    ``F.broadcast`` pins ``BroadcastHashJoinExec`` regardless of stats
    (AQE would usually get this right, but stats can be missing on fresh
    files)."""
    return fact.join(F.broadcast(dim), on, "inner")


# Cap on the ESTIMATED on-disk-equivalent bytes a gated broadcast may pin.
# Matches the session's local autoBroadcastJoinThreshold rationale: one
# in-process hash relation; the in-memory build is a few x larger than the
# compressed estimate, so 64 MB estimate ~ a few hundred MB relation in an
# 8 GB heap. On a cluster, UNHINTED joins stay governed by the (default
# 10 MB) threshold — this cap only bounds how long an explicit pin holds.
GATED_BROADCAST_CAP = 64 * 1024 * 1024


def gated_broadcast(df: DataFrame, sf_dir: str, table: str, selectivity: float = 1.0) -> DataFrame:
    """Broadcast hint that DECLINES itself when the relation scales past a
    byte cap — the sanctioned form for pinning a CORPUS-SCALED build side
    (the q18 lesson, VERDICT r8: an unconditional ``F.broadcast`` over a
    relation that grows with the data OOMs at scale; a hint must never
    outlive the stats that justified it).

    The build side's on-disk-equivalent size is estimated as
    ``table_bytes(sf_dir, table) * selectivity * column_fraction`` — the
    CBO-role stat the static planner lacks for join OUTPUTS (without CBO,
    Catalyst estimates a join's size as the PRODUCT of its inputs, so a
    small selective map like "one year of orders keyed to nation" never
    statically broadcasts without a hint). ``selectivity`` is the caller's
    ROW fraction (filter cut, e.g. 1-of-6 years); the COLUMN fraction is
    derived live as ``len(df.columns) / table_ncols(sf_dir, table)``
    (uniform-width approximation, same math the old hand factors encoded),
    so a call site that later widens its projection automatically widens
    the estimate instead of silently under-sizing the gate (ADVICE r9).
    The estimate needs only order-of-magnitude accuracy against a cap with
    ~10x headroom. Below ``GATED_BROADCAST_CAP``: ``F.broadcast(df)`` (the measured
    bench/audit-scale win). At or above — or when ``table_bytes`` is
    unknown (0) — returns ``df`` unhinted: the plan degrades to the
    shuffle join + AQE runtime stats, never a failure.

    Every call site needs a whitelist entry (with the selectivity's
    derivation) in tests/test_plan_shapes.py::_FORCED_BROADCAST_WHITELIST —
    the registry-wide lint (plans/audit.forced_broadcast_violations) flags
    the hint at small SF where the gate passes."""
    from ..sources.tables import table_bytes, table_ncols

    if not 0 < selectivity <= 1:
        raise ValueError(
            f"gated_broadcast: selectivity must be a row fraction in (0, 1], "
            f"got {selectivity!r} — column fraction is derived, not passed"
        )
    ncols = table_ncols(sf_dir, table)
    col_fraction = min(1.0, len(df.columns) / ncols) if ncols else 1.0
    est = table_bytes(sf_dir, table) * selectivity * col_fraction
    if 0 < est < GATED_BROADCAST_CAP:
        return F.broadcast(df)
    return df


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str,
    right_ts: str,
) -> DataFrame:
    """For each left row, attach the latest right timestamp
    ``right_ts <= left_ts`` within the same key group as ``asof_{right_ts}``
    (backward as-of join, ``pd.merge_asof`` semantics, NULL when the group
    has no earlier right row).

    Implemented with the union-window trick — NOT a theta/range join:
    tag both sides, union, sort within key by (ts, side), and carry the last
    seen right timestamp forward with ``last(..., ignorenulls=True)``. One
    shuffle on ``keys``; no O(n·m) range-join blowup, which is what makes
    this survive 100×: cost is a single sort per key group.
    """
    lhs = left.select(
        *keys,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__lrow"),
        F.lit(None).cast(right.schema[right_ts].dataType).alias("__r___asof_ts"),
    )
    rhs = right.select(
        *keys,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.lit(None).cast(lhs.schema["__lrow"].dataType).alias("__lrow"),
        F.col(right_ts).alias("__r___asof_ts"),
    )

    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__ts"), F.col("__side"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = rhs.unionByName(lhs).select(
        "__side",
        "__ts",
        "__lrow",
        F.last("__r___asof_ts", ignorenulls=True).over(w).alias("__f___asof_ts"),
    )

    out = filled.filter(F.col("__side") == 1)
    left_cols = [F.col(f"__lrow.{c}").alias(c) for c in left.columns]
    return out.select(*left_cols, F.col("__f___asof_ts").alias(f"asof_{right_ts}"))
