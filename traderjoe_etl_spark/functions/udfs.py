"""UDF / UDAF surface (SURVEY.md §2B).

Engine policy: built-ins and higher-order functions first — every reference
loop (P5, P11, A5 at main.py:107-123, 158-170, 227-244) is expressed
without Python in this engine. The UDF registry exists for the cases where
column expressions genuinely cannot express the semantics; everything here
is an Arrow-batched ``pandas_udf`` (vectorized, ~10-100× over row-at-a-time
Python UDFs), registered via ``spark.udf.register`` for SQL access.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf


@pandas_udf(T.DoubleType())
def gini_impurity(counts: pd.Series) -> pd.Series:
    """Vectorized Gini impurity over an array<long> column — an example of
    per-row array math that is clumsy as nested HOFs but one numpy line in
    an Arrow batch."""
    import numpy as np

    def one(arr):
        if arr is None or len(arr) == 0:
            return None
        a = np.asarray(arr, dtype="float64")
        s = a.sum()
        if s == 0:
            return None
        p = a / s
        return float(1.0 - (p * p).sum())

    return counts.map(one)


@pandas_udf(T.DoubleType())
def median_abs_deviation(v: pd.Series) -> float:
    """Grouped-agg pandas UDAF (Series → scalar): robust spread measure
    with no built-in Spark equivalent (two nested medians). Arrives per
    group as one Arrow batch; partial aggregation does NOT apply — at scale
    a skewed group lands on one executor, so pair with a salting pre-pass
    or the approx sketch path when groups exceed executor memory."""
    d = v.dropna()
    if d.empty:
        return None
    return float((d - d.median()).abs().median())


def register_udfs(spark: SparkSession) -> None:
    """Expose the UDF surface to SQL (`SELECT gini_impurity(...)`)."""
    spark.udf.register("gini_impurity", gini_impurity)
    spark.udf.register("median_abs_deviation", median_abs_deviation)
