"""Lenient casting — the engine equivalent of pandas ``to_numeric(errors='coerce')``.

The reference coerces strings to numerics with NULL-on-failure in eight
places (reference main.py:125-126, 195-196, 221-222, 254-255, 266, 275-276,
288-291), sometimes followed by ``fillna(0)`` (main.py:125-126 — amounts
only, never prices; see SURVEY.md §2C.3).

``try_cast`` keeps the whole expression JVM-side (no UDF) and Catalyst still
constant-folds / prunes around it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def lenient_cast(col: Column | str) -> Column:
    """``pd.to_numeric(errors='coerce').fillna(0)`` (main.py:125-126) ≡
    try_cast to double with NULL → 0.0: invalid or missing input reads 0.0.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(c.try_cast("double"), F.lit(0.0).cast("double"))
