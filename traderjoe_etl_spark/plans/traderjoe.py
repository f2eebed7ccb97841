"""The reference pipeline recomposed as ONE SQL statement.

``process_data`` (reference main.py:20-351) runs S2→K1 eagerly for a single
(user, pool) pair; here the per-pair driver loop (main.py:11-17) becomes
data parallelism: every stage is keyed by (user_address, pool_address) and
the whole batch of pairs flows through one Catalyst-optimized plan
(SURVEY.md §3 EP2). ``build_snapshot`` writes that plan as one
``spark.sql`` text over ``pairs`` and the five inputs, passed as DataFrame
arguments, so a build is one parse and one analysis: a few dozen py4j
round trips where composing Columns cost thousands (a Column's SQL text
does not parse back, so the text is written here, not generated).
Stage map (SURVEY.md §2A ids in parens), one CTE per summary:

    pools 1d  (P1,P2)  ┐
    pools 1h  (P3)     ├ pools: flatten/rename, left join on pool_address
    history (P5-P7, F1, F3/F4 rank() = 1, A1-A3, P8)  → deposits
    fees    (A4 sums, A5 sorted packed string)        → fee_totals
    bins    (P11 pro-rata, P12 decimal scaling)       → positions
    assembly: pairs ⟕ pools ⟕ deposits ⟕ fee_totals ⟕ positions  (J1, J2, P13)
    derive D1-D6 (value_if_held, USD values, IL, share %, APR/APY family)
    P9 run_ts literals → P14 fixed order

Documented deviations from the reference (SURVEY.md §2C):
- joins are on (user_address, pool_address), not the collision-prone
  ``pool_name`` (§2C.5);
- per-bin packed strings are sorted by binId (§2C.1); float rendering is
  JVM by default, Python-repr byte-parity under
  ``build_snapshot(..., strict_repr=True)``;
- wall-clock is an injected ``run_ts`` parameter (§2C.6);
- ``/0 → inf`` is scrubbed via nullif at derivation time (§2C.2);
- every snapshot has the columns and types of ``schemas.SNAPSHOT_SCHEMA``:
  a field missing from a payload is NULL, not a dropped column
  (main.py:81-83, 342-343), and the run stamp is a bigint, even before 2038.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import DataFrame

from ..functions.pyrepr import py_float_repr_sql
from ..operators.aggregates import packed_string_sql
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


def _renames(mapping: dict[str, str]) -> dict[str, str]:
    """dst → quoted source path of the ``mapping`` entries: dot paths read
    struct fields (the json_normalize flattening, main.py:52)."""
    return {dst: ".".join(f"`{p}`" for p in src.split(".")) for src, dst in mapping.items()}


def _safe_div(num: str, den: str) -> str:
    """``num / nullif(den, 0)`` with any non-finite quotient scrubbed to
    NULL (main.py:267-269, 279-286; a NaN operand survives a non-zero
    denominator)."""
    q = f"(({num}) / nullif({den}, 0))"
    return (
        f"CASE WHEN isnan({q}) OR {q} = CAST('Infinity' AS DOUBLE)"
        f" OR {q} = CAST('-Infinity' AS DOUBLE) THEN NULL ELSE {q} END"
    )


def build_snapshot(
    pairs: DataFrame,
    inputs: SnapshotInputs,
    run_ts: datetime,
    strict_repr: bool = False,
) -> DataFrame:
    """Assemble the 46-column snapshot for every (user, pool) pair at once.

    ``pairs``: DataFrame(user_address, pool_address) — the S1 cross product
    (reference main.py:11-12), now a relation. ``run_ts``: injected wall
    clock (replaces main.py:171, 271 — §2C.6). ``strict_repr``: render the
    packed-string floats with Python ``repr`` for byte-parity with the
    reference's f-strings (default: JVM rendering, documented deviation)."""
    p1d = _renames(POOL_RENAME_1D)
    p1h = _renames(POOL_RENAME_1H)

    def select(cols: dict[str, str]) -> str:
        return ", ".join(f"{src} AS `{dst}`" for dst, src in cols.items())

    def packed(x: str, y: str) -> str:
        # "(binId: x, y; …)" sorted by binId (§2C.1); strict mode renders
        # the floats with CPython repr
        if strict_repr:
            return packed_string_sql("binId", [x, y], py_float_repr_sql("v"))
        return packed_string_sql("binId", [x, y])

    fees_str = "fees_per_bin(bin_id: token_x, token_y_amounts)"
    bins_str = "bin_distribution(bin id: token_x_amount, token_y_amounts)"
    # D1-D6 (main.py:198-201, 257-269, 275-286) over the joined row, and
    # P9's injected wall clock (main.py:171, 271-273).
    total_usd = "(`token_x(USD)` + `token_y(USD)`)"
    fees_1d, liq = "`pool[total_fees(USD)](1d)`", "`pool[liquidity]`"
    derived = {
        "current_unix_timestamp": f"{int(run_ts.timestamp())}L",
        "timestamp(datetime_pst)": f"'{run_ts.strftime('%Y-%m-%d %H:%M:%S')}'",
        "total_token_value(USD)": total_usd,
        "accrued_fees_token_x(USD)": "accrued_fees_token_x * token_x_price",
        "accrued_fees_token_y(USD)": "accrued_fees_token_y * token_y_price",
        "impermanent_loss(USD)": f"`value_if_held(USD)` - {total_usd}",
        "user_%_of_pool_liquidity": f"{_safe_div(total_usd, liq)} * 100",
        "fees_annual": f"{fees_1d} * 365",
        "APR%": f"{_safe_div(f'{fees_1d} * 365', liq)} * 100",
        "APY%": f"(pow(1 + {_safe_div(fees_1d, liq)}, 365) - 1) * 100",
        "APR_1d%": f"{_safe_div(fees_1d, liq)} * 100",
    }
    pool_cols = ", ".join(f"`{c}`" for c in {**p1d, **p1h} if c != "pool_address")
    out = ", ".join(f"{derived.get(c, f'`{c}`')} AS `{c}`" for c in SNAPSHOT_ORDER)

    # Empty branches (main.py:143-153, 159-170, 227-244) are pairs missing
    # from a summary: the left joins plus coalesce give zeros, "()" and a
    # NULL deposit time, the reference's loops over empty lists.
    sql = f"""
    WITH pools AS (
        SELECT * FROM (SELECT {select(p1d)} FROM {{pools_1d}})
        LEFT JOIN (SELECT {select(p1h)} FROM {{pools_1h}}) USING (pool_address)
    ),
    deposits AS (
        SELECT user_address, pool_address,
            sum(tokenX_amount) AS total_tokenX_amount_initial_deposit,
            sum(tokenY_amount) AS total_tokenY_amount_initial_deposit,
            date_format(max(ts), 'yyyy-MM-dd HH:mm:ss') AS MostRecentDepositTime
        FROM (
            SELECT *, rank() OVER (PARTITION BY user_address, pool_address
                                   ORDER BY blockNumber DESC, ts DESC) AS rk
            FROM (
                SELECT user_address, poolAddress AS pool_address, to_timestamp(`timestamp`) AS ts,
                    blockNumber,
                    coalesce(try_cast(tokenX.amount AS DOUBLE), 0D) AS tokenX_amount,
                    coalesce(try_cast(tokenY.amount AS DOUBLE), 0D) AS tokenY_amount
                FROM {{history}} WHERE isDeposit
            )
        )
        WHERE rk = 1
        GROUP BY user_address, pool_address
    ),
    fee_totals AS (
        SELECT user_address, pool_address,
            sum(feesX) AS accrued_fees_token_x, sum(feesY) AS accrued_fees_token_y,
            {packed("feesX", "feesY")} AS `{fees_str}`
        FROM (
            SELECT user_address, poolAddress AS pool_address, binId,
                coalesce(try_cast(accruedFeesX AS DOUBLE), 0D) AS feesX,
                coalesce(try_cast(accruedFeesY AS DOUBLE), 0D) AS feesY
            FROM {{fees}}
        )
        GROUP BY user_address, pool_address
    ),
    positions AS (
        -- raw sums scaled ONCE (main.py:234, 241-242), per-bin amounts
        -- scaled for the packed string (main.py:237-238)
        SELECT user_address, pool_address,
            sum(ux_raw) / pow(10D, first(token_x_decimals)) AS token_x_amount,
            sum(uy_raw) / pow(10D, first(token_y_decimals)) AS token_y_amount,
            {packed("ux", "uy")} AS `{bins_str}`
        FROM (
            SELECT *, ux_raw / pow(10D, token_x_decimals) AS ux, uy_raw / pow(10D, token_y_decimals) AS uy
            FROM (
                SELECT user_address, poolAddress AS pool_address, binId, token_x_decimals, token_y_decimals,
                    CAST(reserveX AS DOUBLE) * {_safe_div("CAST(shares AS DOUBLE)", "CAST(totalShares AS DOUBLE)")}
                        AS ux_raw,
                    CAST(reserveY AS DOUBLE) * {_safe_div("CAST(shares AS DOUBLE)", "CAST(totalShares AS DOUBLE)")}
                        AS uy_raw
                FROM {{bins}} b
                LEFT JOIN (SELECT pool_address, token_x_decimals, token_y_decimals FROM pools) d
                    ON d.pool_address = b.poolAddress
            )
        )
        GROUP BY user_address, pool_address
    ),
    joined AS (
        SELECT /*+ BROADCAST(pools) */ user_address, pool_address, {pool_cols}, h.MostRecentDepositTime,
            coalesce(h.total_tokenX_amount_initial_deposit, 0D) AS total_tokenX_amount_initial_deposit,
            coalesce(h.total_tokenY_amount_initial_deposit, 0D) AS total_tokenY_amount_initial_deposit,
            coalesce(f.accrued_fees_token_x, 0D) AS accrued_fees_token_x,
            coalesce(f.accrued_fees_token_y, 0D) AS accrued_fees_token_y,
            coalesce(f.`{fees_str}`, '()') AS `{fees_str}`,
            coalesce(c.token_x_amount, 0D) AS token_x_amount,
            coalesce(c.token_y_amount, 0D) AS token_y_amount,
            coalesce(c.`{bins_str}`, '()') AS `{bins_str}`
        FROM {{pairs}}
        LEFT JOIN pools USING (pool_address)
        LEFT JOIN deposits h USING (user_address, pool_address)
        LEFT JOIN fee_totals f USING (user_address, pool_address)
        LEFT JOIN positions c USING (user_address, pool_address)
    )
    SELECT {out}
    FROM (
        SELECT *,
            total_tokenX_amount_initial_deposit * token_x_price
                + total_tokenY_amount_initial_deposit * token_y_price AS `value_if_held(USD)`,
            token_x_price * token_x_amount AS `token_x(USD)`,
            token_y_price * token_y_amount AS `token_y(USD)`
        FROM joined
    )
    """
    return pairs.sparkSession.sql(
        sql,
        pairs=pairs,
        pools_1d=inputs.pools_1d,
        pools_1h=inputs.pools_1h,
        history=inputs.history,
        fees=inputs.fees,
        bins=inputs.bins,
    )
