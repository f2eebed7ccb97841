"""The reference pipeline recomposed as ONE lazy DataFrame DAG.

``process_data`` (reference main.py:20-351) runs S2→K1 eagerly for a single
(user, pool) pair; here the per-pair driver loop (main.py:11-17) becomes
data parallelism: every stage is keyed by (user_address, pool_address) and
the whole batch of pairs flows through one Catalyst-optimized plan
(SURVEY.md §3 EP2). Stage map (SURVEY.md §2A ids in parens):

    pools 1d  (P1,P2)  ┐
    pools 1h  (P3)     ├ join on pool_address → pool dim
    history (P5-P7, F1, F3/F4 argmax, A1-A3, P8)  → per-pair deposit summary
    fees    (A4 sums, A5 sorted string_agg)       → per-pair fee summary
    bins    (P11 pro-rata, P12 decimal scaling)   → per-pair on-chain position
    assembly: pairs ⟕ pools ⟕ history ⟕ fees ⟕ bins   (J1, J2, P13 keyed)
    derive D1-D6 (value_if_held, USD values, IL, share %, APR/APY family)
    P9 run_ts injection → P14 fixed order

Documented deviations from the reference (SURVEY.md §2C):
- joins are on (user_address, pool_address), not the collision-prone
  ``pool_name`` (§2C.5);
- per-bin packed strings are sorted by binId (§2C.1) and the structured
  array columns are kept alongside; float rendering is JVM by default,
  Python-repr byte-parity under ``build_snapshot(..., strict_repr=True)``;
- wall-clock is an injected ``run_ts`` parameter (§2C.6);
- ``/0 → inf`` is scrubbed via nullif at derivation time (§2C.2).
"""

from __future__ import annotations

import functools
from dataclasses import dataclass
from datetime import datetime

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.casts import lenient_cast
from ..functions.projection import project_rename, reorder_existing
from ..functions.scrub import safe_div
from ..operators.aggregates import argmax_rows, sorted_string_agg
from ..schemas import SNAPSHOT_ORDER

PAIR_KEYS = ["user_address", "pool_address"]

# P2's rename map (reference main.py:54-79), struct paths flattened.
POOL_RENAME_1D = {
    "pairAddress": "pool_address",
    "name": "pool_name",
    "volumeUsd": "pool[volume](1d)",
    "liquidityUsd": "pool[liquidity]",
    "feesUsd": "pool[total_fees(USD)](1d)",
    "tokenX.address": "token_x_address",
    "tokenY.address": "token_y_address",
    "tokenX.symbol": "token_x_symbol",
    "tokenY.symbol": "token_y_symbol",
    "tokenX.decimals": "token_x_decimals",
    "tokenY.decimals": "token_y_decimals",
    "reserveX": "pool[token_x_amount]",
    "reserveY": "pool[token_y_amount]",
    "tokenX.priceUsd": "token_x_price",
    "tokenY.priceUsd": "token_y_price",
    "lbBinStep": "lbBinStep",
    "lbBaseFeePct": "base_fee%",
    "lbMaxFeePct": "max_fee%",
    "protocolSharePct": "protocol_fee%",
    "activeBinId": "activeBinId",
    "liquidityDepthMinus": "liquidityDepth-2%(USD)",
    "liquidityDepthPlus": "liquidityDepth+2%(USD)",
    "liquidityDepthTokenX": "liquidityDepth+2%TokenX",
    "liquidityDepthTokenY": "liquidityDepth-2%TokenY",
}

# P3 (main.py:93-96).
POOL_RENAME_1H = {
    "pairAddress": "pool_address",
    "volumeUsd": "pool[volume](1h)",
    "feesUsd": "pool[total_fees(USD)](1h)",
}


@dataclass
class SnapshotInputs:
    """Keyed source relations (one row per pool / per event / per bin)."""

    pools_1d: DataFrame  # POOL_STATS_SCHEMA, one row per pool
    pools_1h: DataFrame  # POOL_STATS_SCHEMA (only volume/fees consumed)
    history: DataFrame  # USER_HISTORY_SCHEMA, rows per (user, pool) event
    fees: DataFrame  # FEES_EARNED_SCHEMA, rows per (user, pool, bin)
    bins: DataFrame  # BINS_RESERVE_SCHEMA, rows per (user, pool, bin)


def _pool_dim(inputs: SnapshotInputs) -> DataFrame:
    """P1+P2+P3+P4: flatten/rename both pool fetches, key-join the 1h slice
    (the reference's positional concat at main.py:102 is replaced by an
    equi-join on pool_address — same result, order-independent)."""
    p1d = project_rename(inputs.pools_1d, POOL_RENAME_1D)
    p1h = project_rename(inputs.pools_1h, POOL_RENAME_1H)
    return p1d.join(p1h, "pool_address", "left")


def _history_summary(inputs: SnapshotInputs) -> DataFrame:
    """F1→F3/F4→A1-A3→P8 (reference main.py:107-153): deposits only, argmax
    by (blockNumber, timestamp) keeping ties, sum amounts, format max ts.

    The empty-deposits branch (main.py:143-153) needs no driver-side 'if':
    pairs with zero surviving rows simply don't appear here and the left
    join in build_snapshot + coalesce supplies the zero defaults.
    """
    h = inputs.history.select(
        F.col("user_address"),
        F.col("poolAddress").alias("pool_address"),
        F.to_timestamp("timestamp").alias("ts"),  # P6 main.py:124
        F.col("isDeposit"),
        F.col("blockNumber"),
        # P5+P7: nested .get with default 0 + to_numeric coerce + fillna(0)
        # (main.py:115-118, 125-126)
        lenient_cast(F.col("tokenX.amount"), "double", default=0.0).alias("tokenX_amount"),
        lenient_cast(F.col("tokenY.amount"), "double", default=0.0).alias("tokenY_amount"),
    )
    deposits = h.filter(F.col("isDeposit"))  # F1 main.py:127
    latest = argmax_rows(deposits, PAIR_KEYS, ["blockNumber", "ts"])  # F3/F4, rank-ties
    return latest.groupBy(*PAIR_KEYS).agg(
        F.sum("tokenX_amount").alias("total_tokenX_amount_initial_deposit"),  # A3
        F.sum("tokenY_amount").alias("total_tokenY_amount_initial_deposit"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("MostRecentDepositTime"),  # A2+P8
    )


@functools.cache
def _strict_render(name: str, gateway: object) -> Column:
    """The strict renderer of column ``name``, built once per column name
    and JVM (``gateway``): each tree (about 250 unresolved expression nodes)
    costs about 770 py4j round trips to build, and a Column is an
    unresolved expression, safe to share between plans."""
    from ..functions.pyrepr import py_float_repr_expr

    return py_float_repr_expr(F.col(name))


def _render_float(name: str, strict_repr: bool) -> Column:
    """Double → string for the packed bin strings: JVM rendering by default;
    CPython-repr bytes under strict parity mode, where the byte form must
    match the reference's f-strings (§2C.1 deviation closed). Strict mode
    uses the pure-expression renderer (functions/pyrepr.py) — byte-exact
    for the packed amount domain (|x| < 2^53) with no Python worker stage;
    functions.udfs.py_float_repr is the anywhere-exact pandas-UDF form the
    parity tests compare against."""
    if strict_repr:
        return _strict_render(name, SparkContext._gateway)
    return F.col(name).cast("string")


def _packed_bins(bin_id: str, x: str, y: str, strict_repr: bool) -> Column:
    """The packed ``"(binId: x, y; …)"`` aggregate behind both the fees
    and the bin strings (main.py:168-170, 239-244), sorted by binId for
    determinism (§2C.1; the reference relied on API order). Arguments are
    column names."""
    bin_col = F.col(bin_id)
    rendered = F.concat_ws(
        ": ",
        bin_col.cast("string"),
        F.concat_ws(", ", _render_float(x, strict_repr), _render_float(y, strict_repr)),
    )
    return sorted_string_agg([bin_col], rendered, "; ", ("(", ")"))


def _fees_summary(inputs: SnapshotInputs, strict_repr: bool = False) -> DataFrame:
    """A4+A5 (reference main.py:158-181): per-pair fee totals plus the
    packed ``"(binId: feesX, feesY; …)"`` string."""
    f = inputs.fees.select(
        F.col("user_address"),
        F.col("poolAddress").alias("pool_address"),
        F.col("binId"),
        lenient_cast(F.col("accruedFeesX"), "double", default=0.0).alias("feesX"),
        lenient_cast(F.col("accruedFeesY"), "double", default=0.0).alias("feesY"),
    )
    # single-pass: totals AND the sorted packed string in ONE groupBy
    # (two groupBys + self-join would shuffle twice and join for nothing)
    return f.groupBy(*PAIR_KEYS).agg(
        F.sum("feesX").alias("accrued_fees_token_x"),
        F.sum("feesY").alias("accrued_fees_token_y"),
        _packed_bins("binId", "feesX", "feesY", strict_repr).alias(
            "fees_per_bin(bin_id: token_x, token_y_amounts)"
        ),
    )


def _contract_summary(
    inputs: SnapshotInputs, pool_decimals: DataFrame, strict_repr: bool = False
) -> DataFrame:
    """P11+P12 (reference main.py:227-250): per-bin pro-rata share of
    reserves, decimal-scaled, summed per pair + packed bin string.

    Raw uint128/uint256 arrive as Decimal(38,0); the pro-rata math runs in
    double like the reference (Python int→float at main.py:232-233) —
    deviation §7.4.1 (Decimal(38)×Decimal(38) would overflow Spark's
    precision cap).
    """
    b = inputs.bins.select(
        F.col("user_address"),
        F.col("poolAddress").alias("pool_address"),
        F.col("binId"),
        F.col("reserveX").cast("double").alias("rx"),
        F.col("reserveY").cast("double").alias("ry"),
        F.col("shares").cast("double").alias("sh"),
        F.col("totalShares").cast("double").alias("tsh"),
    ).join(pool_decimals, "pool_address", "left")
    scaled = b.select(
        "user_address",
        "pool_address",
        "binId",
        (F.col("rx") * safe_div(F.col("sh"), F.col("tsh"))).alias("ux_raw"),  # P11
        (F.col("ry") * safe_div(F.col("sh"), F.col("tsh"))).alias("uy_raw"),
        (
            F.col("rx") * safe_div(F.col("sh"), F.col("tsh"))
            / F.pow(F.lit(10.0), F.col("token_x_decimals"))
        ).alias("ux"),  # P12 main.py:237-238
        (
            F.col("ry") * safe_div(F.col("sh"), F.col("tsh"))
            / F.pow(F.lit(10.0), F.col("token_y_decimals"))
        ).alias("uy"),
        "token_x_decimals",  # kept: the totals agg scales the raw sums once
        "token_y_decimals",
    )
    # single groupBy: raw sums scaled ONCE (main.py:234, 241-242 — not
    # sum-of-scaled) + the sorted packed bin string, one shuffle total
    return scaled.groupBy(*PAIR_KEYS).agg(
        (F.sum("ux_raw") / F.pow(F.lit(10.0), F.first("token_x_decimals"))).alias("token_x_amount"),
        (F.sum("uy_raw") / F.pow(F.lit(10.0), F.first("token_y_decimals"))).alias("token_y_amount"),
        _packed_bins("binId", "ux", "uy", strict_repr).alias(
            "bin_distribution(bin id: token_x_amount, token_y_amounts)"
        ),
    )


def build_snapshot(
    pairs: DataFrame,
    inputs: SnapshotInputs,
    run_ts: datetime,
    strict_repr: bool = False,
    join_on_pool_name: bool = False,
) -> DataFrame:
    """Assemble the 46-column snapshot for every (user, pool) pair at once.

    ``pairs``: DataFrame(user_address, pool_address) — the S1 cross product
    (reference main.py:11-12), now a relation. ``run_ts``: injected wall
    clock (replaces main.py:171, 271 — §2C.6). ``strict_repr``: render the
    packed-string floats with Python ``repr`` for byte-parity with the
    reference's f-strings (default: JVM rendering, documented deviation).
    ``join_on_pool_name``: strict-parity J1/J2 — the reference merges
    history and fees onto pools by the human-readable ``pool_name``
    (main.py:182-183), the name having been stamped onto each summary from
    ``df_pools`` itself (main.py:138, 176). Faithfully reproduced here:
    summaries pick up their name through the pool dim, then join on
    ``(user_address, pool_name)`` — INCLUDING the hazard that two pools
    sharing a display name cross-multiply rows, which is exactly why the
    default joins on ``pool_address`` (SURVEY §2C.5 deviation, gated)."""
    pools = _pool_dim(inputs)
    history = _history_summary(inputs)
    fees = _fees_summary(inputs, strict_repr)
    decimals = pools.select("pool_address", "token_x_decimals", "token_y_decimals")
    contract = _contract_summary(inputs, decimals, strict_repr)

    # J1/J2/P13 as keyed left joins; pool dim is broadcast (tiny at any SF).
    if join_on_pool_name:
        name_map = F.broadcast(pools.select("pool_address", "pool_name"))
        df = (
            pairs.join(F.broadcast(pools), "pool_address", "left")
            .join(
                history.join(name_map, "pool_address").drop("pool_address"),
                ["user_address", "pool_name"],
                "left",
            )
            .join(
                fees.join(name_map, "pool_address").drop("pool_address"),
                ["user_address", "pool_name"],
                "left",
            )
            # P13 (contract concat) is positional in the reference, not a
            # name merge — stays keyed by address even in strict mode.
            .join(contract, PAIR_KEYS, "left")
        )
    else:
        df = (
            pairs.join(F.broadcast(pools), "pool_address", "left")
            .join(history, PAIR_KEYS, "left")
            .join(fees, PAIR_KEYS, "left")
            .join(contract, PAIR_KEYS, "left")
        )

    # Every withColumn re-analyzes the (growing) plan — a chain of ~20 was
    # >1 s of pure driver time on this DAG. Batched withColumns calls keep
    # it to three analysis passes; intra-batch dependencies are expressed by
    # sharing the Column expression objects (codegen CSEs the duplicates).

    # Empty-branch defaults (main.py:143-153, 159-170, 227-244): zeros for
    # amounts, "()" packed strings, NULL time — the reference's loops over
    # empty lists, supplied here by coalesce after the left joins.
    df = df.withColumns(
        {
            "total_tokenX_amount_initial_deposit": F.coalesce(
                "total_tokenX_amount_initial_deposit", F.lit(0.0)
            ),
            "total_tokenY_amount_initial_deposit": F.coalesce(
                "total_tokenY_amount_initial_deposit", F.lit(0.0)
            ),
            "accrued_fees_token_x": F.coalesce("accrued_fees_token_x", F.lit(0.0)),
            "accrued_fees_token_y": F.coalesce("accrued_fees_token_y", F.lit(0.0)),
            "fees_per_bin(bin_id: token_x, token_y_amounts)": F.coalesce(
                F.col("`fees_per_bin(bin_id: token_x, token_y_amounts)`"), F.lit("()")
            ),
            "token_x_amount": F.coalesce("token_x_amount", F.lit(0.0)),
            "token_y_amount": F.coalesce("token_y_amount", F.lit(0.0)),
            "bin_distribution(bin id: token_x_amount, token_y_amounts)": F.coalesce(
                F.col("`bin_distribution(bin id: token_x_amount, token_y_amounts)`"),
                F.lit("()"),
            ),
        }
    )

    # D1-D6 (main.py:198-201, 257-269, 275-286) + P9 injected wall clock
    # (main.py:171, 271-273); nullif (safe_div) replaces divide-then-scrub.
    vih = (
        F.col("total_tokenX_amount_initial_deposit") * F.col("token_x_price")
        + F.col("total_tokenY_amount_initial_deposit") * F.col("token_y_price")
    )
    tx_usd = F.col("token_x_price") * F.col("token_x_amount")
    ty_usd = F.col("token_y_price") * F.col("token_y_amount")
    total_usd = tx_usd + ty_usd
    fees_1d = F.col("`pool[total_fees(USD)](1d)`")
    liq = F.col("`pool[liquidity]`")
    df = df.withColumns(
        {
            "value_if_held(USD)": vih,
            "token_x(USD)": tx_usd,
            "token_y(USD)": ty_usd,
            "total_token_value(USD)": total_usd,
            "accrued_fees_token_x(USD)": F.col("accrued_fees_token_x") * F.col("token_x_price"),
            "accrued_fees_token_y(USD)": F.col("accrued_fees_token_y") * F.col("token_y_price"),
            "impermanent_loss(USD)": vih - total_usd,
            "user_%_of_pool_liquidity": safe_div(total_usd, liq) * 100,
            "fees_annual": fees_1d * 365,
            "APR%": safe_div(fees_1d * 365, liq) * 100,
            "APY%": (F.pow(1 + safe_div(fees_1d, liq), 365) - 1) * 100,
            "APR_1d%": safe_div(fees_1d, liq) * 100,
            "current_unix_timestamp": F.lit(int(run_ts.timestamp())),
            "timestamp(datetime_pst)": F.lit(run_ts.strftime("%Y-%m-%d %H:%M:%S")),
        }
    )
    # P14 (main.py:293-343)
    return reorder_existing(df, SNAPSHOT_ORDER)
