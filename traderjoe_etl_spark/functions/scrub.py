"""Non-finite scrubbing and safe division.

pandas produces ``inf`` on float division by zero and the reference scrubs
it to NaN after the fact (main.py:268-269, 284-286). Spark doubles likewise
produce ``Infinity`` on ``x / 0.0``, and NaN behaves differently from NULL in
aggregates and comparisons — so the engine normalizes all non-finite values
to NULL (SURVEY.md §2C.2: NaN serializes as empty in the reference CSV,
which is NULL in a typed engine).

All expressions are built-in column ops — no UDFs, fully codegen'd.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_POS_INF = float("inf")
_NEG_INF = float("-inf")


def scrub_nonfinite(col: Column | str) -> Column:
    """NaN and ±Infinity → NULL in one pass."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.isnan(c) | (c == F.lit(_POS_INF)) | (c == F.lit(_NEG_INF)), F.lit(None)).otherwise(c)


def safe_div(num: Column | str, den: Column | str) -> Column:
    """``scrub(num / nullif(den, 0))`` — division that yields NULL instead
    of Infinity/NaN for ANY non-finite outcome.

    This is the canonical engine form of the reference's divide-then-scrub
    pattern (main.py:267-269, 279-286); both Spark and the DuckDB oracle get
    the same ``nullif`` so the semantics pin down identically (SURVEY.md
    §7.4.5). The quotient is additionally scrubbed because a NaN operand
    (reachable via ``try_cast('NaN')``) propagates through the division even
    with a non-zero denominator — the module contract is that every
    non-finite value normalizes to NULL."""
    n = F.col(num) if isinstance(num, str) else num
    d = F.col(den) if isinstance(den, str) else den
    return scrub_nonfinite(n / F.nullif(d, F.lit(0)))
