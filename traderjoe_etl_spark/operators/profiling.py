"""One-pass column profiling (data-quality summary for pipeline intake).

``profile_columns`` computes, for every column, in ONE aggregate over ONE
scan: non-null count, null fraction, min/max (numeric columns as doubles,
everything else as strings), and numeric mean; the exact distinct counts
join it as one narrow aggregate per column. The result is unpivoted to
long format (one row per column) driver-side — the exploded array is a
single row, so the unpivot is free.

Scale notes:
- each column's exact distinct count is its OWN two-phase aggregate
  (partial distinct map-side, one narrow column through each shuffle),
  stitched onto the main aggregate with broadcast joins. N single-column
  passes beat the textbook alternative — N distinct aggregates in one
  pass — because Spark plans that as an Expand that replicates EVERY row
  N times with all-but-one column nulled before a single fat shuffle
  (measured 33 s at sf10 on events; the per-column form shuffles only
  distinct values).
- Everything else (count/min/max/avg) is partial-aggregated map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def profile_columns(df: DataFrame) -> DataFrame:
    """Long-format per-column profile: one row per column with
    (column, n_rows, n_nonnull, null_frac, n_distinct, min_num, max_num,
    avg_num, min_str, max_str)."""
    cols = df.columns
    types = {f.name: f.dataType for f in df.schema.fields}
    aggs = [F.count(F.lit(1)).alias("__n_rows")]
    for c in cols:
        col = F.col(c)
        is_num = isinstance(types[c], _NUMERIC)
        aggs += [
            F.count(col).alias(f"__cnt_{c}"),
            # a countDistinct here would join the N-distinct Expand plan
            # (see module docstring); the exact counts are computed as
            # separate single-column aggregates below and broadcast-joined in
            F.lit(None).cast("long").alias(f"__nd_{c}"),
            (F.min(col).cast("double") if is_num else F.lit(None).cast("double")).alias(
                f"__minn_{c}"
            ),
            (F.max(col).cast("double") if is_num else F.lit(None).cast("double")).alias(
                f"__maxn_{c}"
            ),
            (F.round(F.avg(col), 4) if is_num else F.lit(None).cast("double")).alias(
                f"__avg_{c}"
            ),
            (F.lit(None).cast("string") if is_num else F.min(col).cast("string")).alias(
                f"__mins_{c}"
            ),
            (F.lit(None).cast("string") if is_num else F.max(col).cast("string")).alias(
                f"__maxs_{c}"
            ),
        ]
    one = df.agg(*aggs)
    # one narrow two-phase distinct aggregate per column (partial distinct
    # map-side → tiny final), stitched onto the main 1-row aggregate as
    # broadcast joins, replacing the NULL placeholders
    for c in cols:
        one = one.join(F.broadcast(df.agg(F.countDistinct(c).alias(f"__xnd_{c}"))))
    one = one.withColumns({f"__nd_{c}": F.col(f"__xnd_{c}") for c in cols}).drop(
        *[f"__xnd_{c}" for c in cols]
    )
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col("__n_rows").alias("n_rows"),
                F.col(f"__cnt_{c}").alias("n_nonnull"),
                F.round(
                    (F.col("__n_rows") - F.col(f"__cnt_{c}"))
                    / F.nullif(F.col("__n_rows"), F.lit(0)),
                    6,
                ).alias("null_frac"),
                F.col(f"__nd_{c}").alias("n_distinct"),
                F.col(f"__minn_{c}").alias("min_num"),
                F.col(f"__maxn_{c}").alias("max_num"),
                F.col(f"__avg_{c}").alias("avg_num"),
                F.col(f"__mins_{c}").alias("min_str"),
                F.col(f"__maxs_{c}").alias("max_str"),
            )
            for c in cols
        ]
    )
    return one.select(F.explode(entries).alias("p")).select("p.*")
