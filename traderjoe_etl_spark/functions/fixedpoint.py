"""Exact fixed-point (money) sums on top of plain LONG aggregation.

The reference sums float money columns with pandas (main.py:130-135,
172-176) — order-dependent double arithmetic. Round 1 used DECIMAL(30,6)
sums for order-independent exactness, but Spark's decimal aggregation is
the interpreted path (~4× a long/double sum, see BENCH.md). This module
gets BOTH: exactness/order-independence AND whole-stage-codegen long
arithmetic, by summing scaled integers.

Scheme (for a column of values with at most ``scale`` decimal digits):

1. per row: ``u = floor(col * 10^scale + 0.5)`` as long — HALF_UP round
   without Spark ``round()``'s per-row BigDecimal path; exact because the
   underlying data has fixed precision (prices/quantities/discounts), so
   ``col * 10^scale`` lands within ~1e-5 of an integer.
2. split ``u`` into ``hi = (u - pmod(u, 10^6)) / 10^6`` and
   ``lo = pmod(u, 10^6)`` and sum each as a plain LONG. The split keeps
   both partial sums far from long overflow: ``sum(lo) <= n * 10^6`` and
   ``sum(hi) <= n * max|col| * 10^(scale-6)`` — safe beyond 10^12 rows,
   where a single un-split micro-unit sum would overflow around sf30.
3. recombine in DOUBLE with a fixed operation order:
   ``value = sum_hi * 10^(6-scale) + sum_lo / 10^scale``.

Step 3 is the cross-engine trick: the integer sums are bit-identical in
any engine (exact long arithmetic, order-independent), and the recombine
is two IEEE-754 double ops in a fixed order, so Spark and a SQL oracle
(DuckDB) that mirrors the same expression produce the *identical* double
— no rounding-grid dance needed. At bench scales every intermediate is
< 2^53, so the result is also exact to the nearest double; at extreme
scale it degrades gracefully to double accuracy while staying
deterministic.

Values are assumed non-negative (prices/quantities/fees). For signed
data, mirror ``pmod`` semantics in the oracle (`((u % m) + m) % m`).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SPLIT = 1_000_000


def fixed_sum_aggs(name: str, expr: str, scale: int) -> list[Column]:
    """Aggregate expressions (two long sums) for one money measure.

    ``expr`` is the per-row money expression as a SQL string — the whole
    aggregate pair is built as two ``F.expr`` calls (2 py4j round trips)
    instead of ~25 composed-Column calls; with several measures per query
    the difference is ~0.3 s of pure driver time per plan build (BENCH.md,
    same finding as the simhash/minhash expression banks).

    Use inside ``groupBy(...).agg(*fixed_sum_aggs(...), ...)`` — both sums
    are plain longs, so they partial-aggregate map-side inside whole-stage
    codegen; the shuffle carries |groups| rows of longs. ``div``/``%`` are
    exact long ops (values are non-negative; see module docstring).
    """
    # floor(x+0.5) == HALF_UP round for the non-negative domain, without
    # Spark round()'s per-row BigDecimal path (measured ~1.5× the whole
    # aggregate's cost at sf10); the Spark cast truncates toward zero =
    # floor for non-negative.
    u = f"CAST(({expr}) * {float(10**scale)!r} + 0.5D AS BIGINT)"
    return [
        F.expr(f"sum({u} div {SPLIT}) AS __{name}_hi"),
        F.expr(f"sum({u} % {SPLIT}) AS __{name}_lo"),
    ]


def fixed_sum_value_sql(name: str, scale: int) -> str:
    """SQL fragment recombining the two long sums into the double value
    (for embedding in larger ``F.expr`` strings)."""
    hi_factor = float(10 ** (6 - scale)) if scale <= 6 else 1.0 / float(10 ** (scale - 6))
    return (
        f"(CAST(__{name}_hi AS DOUBLE) * {hi_factor!r}"
        f" + CAST(__{name}_lo AS DOUBLE) / {float(10**scale)!r})"
    )


def fixed_sum_value(name: str, scale: int) -> Column:
    """Recombine the two long sums into the (deterministic) double value."""
    return F.expr(f"{fixed_sum_value_sql(name, scale)} AS {name}")


def fixed_sum_sql(expr: str, scale: int) -> str:
    """The mirrored ANSI-SQL (DuckDB) form of the same exact sum.

    ``expr`` is the per-row SQL money expression; returns a SQL expression
    computing the identical double as fixed_sum_aggs + fixed_sum_value.
    """
    m = 10**scale
    hi_factor = 10 ** (6 - scale)
    # DuckDB CAST(double AS BIGINT) rounds-to-nearest (not truncate), so
    # the floor is explicit — same u as the engine's truncating cast.
    u = f"CAST(floor(({expr}) * {m}.0 + 0.5) AS BIGINT)"
    hi = f"CAST(sum(CAST(({u} - ({u} % {SPLIT})) / {SPLIT} AS BIGINT)) AS DOUBLE)"
    lo = f"CAST(sum({u} % {SPLIT}) AS DOUBLE)"
    return f"({hi} * {hi_factor}.0 + {lo} / {m}.0)"
