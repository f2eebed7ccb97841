"""The full reference snapshot pipeline exposed as a driver query.

Source payloads are synthesized DETERMINISTICALLY from the driver's own
tables (events → history/fees/bins roles per FIXTURES.md §B; pools from
nation), so the rows-only check is stable across runs. The real-source
variants of these inputs come from sources/rest.py and sources/rpc.py with
identical schemas.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.traderjoe import SnapshotInputs, build_snapshot
from ..schemas import (
    BINS_RESERVE_SCHEMA,
    FEES_EARNED_SCHEMA,
    POOL_STATS_SCHEMA,
    USER_HISTORY_SCHEMA,
)
from ..functions import session_cache
from ..sources.tables import read_table
from . import query

RUN_TS = datetime(2026, 1, 1, 0, 0, 0, tzinfo=timezone.utc)
N_POOLS = 5

# analyzed-plan reuse across invocations (see snapshot_pipeline docstring)
_PLAN_CACHE: dict[tuple[str, str], DataFrame] = {}


def _synth_inputs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, SnapshotInputs]:
    events = read_table(spark, sf_dir, "events")
    # the N_POOLS lowest nation keys (keys are dense from 0), as a pushed
    # scan filter — a limit() here would cost a LocalLimit→Exchange→
    # GlobalLimit round per use of the pools relation and depend on file
    # row order; the filter is order-robust and free
    nation = read_table(spark, sf_dir, "nation").filter(F.col("n_nationkey") < N_POOLS)

    # one selectExpr call per relation (vs hundreds of composed-Column py4j
    # round trips — see BENCH.md plan-build notes); semantics unchanged,
    # guarded by the golden-output comparison in tests and the driver sim
    user_addr = "concat('0xuser', CAST(user_id AS STRING))"
    pool_addr = f"concat('0xpool', CAST(CAST(user_id % {N_POOLS} AS INT) AS STRING))"

    pools_rows = nation.selectExpr(
        "concat('0xpool', CAST(n_nationkey AS STRING)) AS pairAddress",
        "n_name AS name",
        "n_nationkey * 100.0D + 500 AS volumeUsd",
        "n_nationkey * 1000.0D + 1000 AS liquidityUsd",
        "n_nationkey * 1.5D + 1 AS feesUsd",
        "named_struct('address', '0xtx', 'symbol', 'TX', 'decimals', 6, 'priceUsd', 2.0D) AS tokenX",
        "named_struct('address', '0xty', 'symbol', 'TY', 'decimals', 18, 'priceUsd', 0.5D) AS tokenY",
        "100.0D AS reserveX", "200.0D AS reserveY",
        "25 AS lbBinStep", "0.1D AS lbBaseFeePct",
        "1.0D AS lbMaxFeePct", "5.0D AS protocolSharePct",
        "8388608 AS activeBinId",
        "10.0D AS liquidityDepthMinus", "12.0D AS liquidityDepthPlus",
        "5.0D AS liquidityDepthTokenX", "6.0D AS liquidityDepthTokenY",
    )
    # cast every column to the declared schema type relationally — no
    # driver-side collect round trip
    pools_1d = pools_rows.selectExpr(
        *[
            f"CAST(`{f.name}` AS {f.dataType.simpleString()}) AS `{f.name}`"
            for f in POOL_STATS_SCHEMA.fields
        ]
    )
    pools_1h = pools_1d

    history = events.filter(F.col("event_type") == "purchase").selectExpr(
        f"{user_addr} AS user_address",
        "date_format(ts, 'yyyy-MM-dd\\'T\\'HH:mm:ss') AS `timestamp`",
        "true AS isDeposit",
        f"{pool_addr} AS poolAddress",
        "'P' AS pairName",
        "CAST(event_id % 100 AS INT) AS binId",
        "named_struct('amount', CAST(value AS STRING), 'price', '2.0') AS tokenX",
        "named_struct('amount', CAST(value / 2 AS STRING), 'price', '0.5') AS tokenY",
        "event_id AS blockNumber",
    )
    fees = events.filter(F.col("event_type") == "click").selectExpr(
        f"{user_addr} AS user_address",
        f"{pool_addr} AS poolAddress",
        "CAST(event_id % 100 AS INT) AS binId",
        "CAST(value / 100 AS STRING) AS accruedFeesX",
        "CAST(value / 200 AS STRING) AS accruedFeesY",
    )
    bins = events.filter(F.col("event_type") == "view").selectExpr(
        f"{user_addr} AS user_address",
        f"{pool_addr} AS poolAddress",
        "CAST(event_id % 100 AS INT) AS binId",
        "CAST(CAST(value AS LONG) * 1000000 AS DECIMAL(38,0)) AS reserveX",
        "CAST(CAST(value AS LONG) AS DECIMAL(38,0)) AS reserveY",
        "CAST(event_id % 7 + 1 AS DECIMAL(38,0)) AS shares",
        "CAST(10 AS DECIMAL(38,0)) AS totalShares",
    )
    pairs = events.selectExpr(
        f"{user_addr} AS user_address", f"{pool_addr} AS pool_address"
    ).distinct()
    for df, schema in ((history, USER_HISTORY_SCHEMA), (fees, FEES_EARNED_SCHEMA), (bins, BINS_RESERVE_SCHEMA)):
        assert [f.name for f in df.schema.fields] == [f.name for f in schema.fields]
    return pairs, SnapshotInputs(pools_1d, pools_1h, history, fees, bins)


_ADDR_U = "'0xuser' || CAST(user_id AS VARCHAR)"
_ADDR_P = f"'0xpool' || CAST(CAST(user_id % {N_POOLS} AS INTEGER) AS VARCHAR)"

# The packed-bin strings render doubles with Python repr (strict_repr mode);
# DuckDB's DOUBLE::VARCHAR is the same shortest-round-trip format
# byte-for-byte (verified across plain/scientific/boundary values), so the
# oracle can reproduce them with plain casts.
_FEES_ITEM = "CAST(binId AS VARCHAR) || ': ' || CAST(fx AS VARCHAR) || ', ' || CAST(fy AS VARCHAR)"
_BINS_ITEM = "CAST(binId AS VARCHAR) || ': ' || CAST(ux AS VARCHAR) || ', ' || CAST(uy AS VARCHAR)"

_SNAPSHOT_SQL = f"""
WITH pairs AS (
    SELECT DISTINCT {_ADDR_U} AS user_address, {_ADDR_P} AS pool_address
    FROM events
),
pools AS (
    SELECT '0xpool' || CAST(n_nationkey AS VARCHAR) AS pool_address,
           n_name                       AS pool_name,
           n_nationkey * 100.0 + 500    AS volume_1h,
           n_nationkey * 1000.0 + 1000  AS liquidity,
           n_nationkey * 1.5 + 1        AS fees_1d,
           n_nationkey * 1.5 + 1        AS fees_1h
    FROM nation
    WHERE n_nationkey < {N_POOLS}
),
hist AS (
    SELECT {_ADDR_U} AS user_address, {_ADDR_P} AS pool_address,
           date_trunc('second', ts) AS ts_s,
           event_id                 AS block_number,
           value                    AS amt_x,
           value / 2                AS amt_y
    FROM events WHERE event_type = 'purchase'
),
latest AS (
    SELECT * FROM (
        SELECT h.*, rank() OVER (PARTITION BY user_address, pool_address
                                 ORDER BY block_number DESC, ts_s DESC) AS rk
        FROM hist h
    ) WHERE rk = 1
),
hist_sum AS (
    SELECT user_address, pool_address,
           sum(amt_x) AS dep_x, sum(amt_y) AS dep_y,
           strftime(max(ts_s), '%Y-%m-%d %H:%M:%S') AS most_recent
    FROM latest GROUP BY user_address, pool_address
),
fees AS (
    SELECT {_ADDR_U} AS user_address, {_ADDR_P} AS pool_address,
           CAST(event_id % 100 AS INTEGER) AS binId,
           value / 100 AS fx, value / 200 AS fy
    FROM events WHERE event_type = 'click'
),
fees_sum AS (
    SELECT user_address, pool_address,
           sum(fx) AS fees_x, sum(fy) AS fees_y,
           '(' || string_agg({_FEES_ITEM}, '; ' ORDER BY binId, {_FEES_ITEM}) || ')' AS packed
    FROM fees GROUP BY user_address, pool_address
),
bins AS (
    SELECT {_ADDR_U} AS user_address, {_ADDR_P} AS pool_address,
           CAST(event_id % 100 AS INTEGER) AS binId,
           CAST(CAST(trunc(value) AS BIGINT) * 1000000 AS DOUBLE) AS rx,
           CAST(CAST(trunc(value) AS BIGINT) AS DOUBLE)           AS ry,
           CAST(event_id % 7 + 1 AS DOUBLE)                       AS sh
    FROM events WHERE event_type = 'view'
),
scaled AS (
    SELECT user_address, pool_address, binId,
           rx * (sh / 10.0)                 AS ux_raw,
           ry * (sh / 10.0)                 AS uy_raw,
           rx * (sh / 10.0) / pow(10.0, 6)  AS ux,
           ry * (sh / 10.0) / pow(10.0, 18) AS uy
    FROM bins
),
bins_sum AS (
    SELECT user_address, pool_address,
           sum(ux_raw) / pow(10.0, 6)  AS tok_x,
           sum(uy_raw) / pow(10.0, 18) AS tok_y,
           '(' || string_agg({_BINS_ITEM}, '; ' ORDER BY binId, {_BINS_ITEM}) || ')' AS packed
    FROM scaled GROUP BY user_address, pool_address
),
joined AS (
    SELECT pr.user_address, pr.pool_address,
           p.pool_name, p.volume_1h, p.liquidity, p.fees_1d, p.fees_1h,
           coalesce(h.dep_x, 0.0) AS dep_x,
           coalesce(h.dep_y, 0.0) AS dep_y,
           h.most_recent,
           coalesce(f.fees_x, 0.0) AS fees_x,
           coalesce(f.fees_y, 0.0) AS fees_y,
           coalesce(f.packed, '()') AS fees_packed,
           coalesce(b.tok_x, 0.0) AS tok_x,
           coalesce(b.tok_y, 0.0) AS tok_y,
           coalesce(b.packed, '()') AS bins_packed
    FROM pairs pr
    LEFT JOIN pools p    USING (pool_address)
    LEFT JOIN hist_sum h USING (user_address, pool_address)
    LEFT JOIN fees_sum f USING (user_address, pool_address)
    LEFT JOIN bins_sum b USING (user_address, pool_address)
)
SELECT
    1767225600                   AS "current_unix_timestamp",
    '2026-01-01 00:00:00'        AS "timestamp(datetime_pst)",
    pool_name                    AS "pool_name",
    pool_address                 AS "pool_address",
    volume_1h                    AS "pool[volume](1h)",
    liquidity                    AS "pool[liquidity]",
    fees_1h                      AS "pool[total_fees(USD)](1h)",
    25                           AS "lbBinStep",
    0.1                          AS "base_fee%",
    1.0                          AS "max_fee%",
    5.0                          AS "protocol_fee%",
    'TX'                         AS "token_x_symbol",
    'TY'                         AS "token_y_symbol",
    '0xtx'                       AS "token_x_address",
    '0xty'                       AS "token_y_address",
    100.0                        AS "pool[token_x_amount]",
    200.0                        AS "pool[token_y_amount]",
    2.0                          AS "token_x_price",
    0.5                          AS "token_y_price",
    8388608                      AS "activeBinId",
    5.0                          AS "liquidityDepth+2%TokenX",
    6.0                          AS "liquidityDepth-2%TokenY",
    12.0                         AS "liquidityDepth+2%(USD)",
    10.0                         AS "liquidityDepth-2%(USD)",
    user_address                 AS "user_address",
    round(dep_x, 6)              AS "total_tokenX_amount_initial_deposit",
    round(dep_y, 6)              AS "total_tokenY_amount_initial_deposit",
    most_recent                  AS "MostRecentDepositTime",
    round(tok_x, 6)              AS "token_x_amount",
    round(tok_y, 6)              AS "token_y_amount",
    round(2.0 * tok_x, 6)        AS "token_x(USD)",
    round(0.5 * tok_y, 6)        AS "token_y(USD)",
    bins_packed                  AS "bin_distribution(bin id: token_x_amount, token_y_amounts)",
    round(2.0 * tok_x + 0.5 * tok_y, 6) AS "total_token_value(USD)",
    round(fees_x, 6)             AS "accrued_fees_token_x",
    round(fees_y, 6)             AS "accrued_fees_token_y",
    round(fees_x * 2.0, 6)       AS "accrued_fees_token_x(USD)",
    round(fees_y * 0.5, 6)       AS "accrued_fees_token_y(USD)",
    fees_packed                  AS "fees_per_bin(bin_id: token_x, token_y_amounts)",
    round(dep_x * 2.0 + dep_y * 0.5, 6) AS "value_if_held(USD)",
    round((dep_x * 2.0 + dep_y * 0.5) - (2.0 * tok_x + 0.5 * tok_y), 6) AS "impermanent_loss(USD)",
    round((2.0 * tok_x + 0.5 * tok_y) / liquidity * 100, 6) AS "user_%_of_pool_liquidity",
    fees_1d * 365                AS "fees_annual",
    round((fees_1d * 365) / liquidity * 100, 6) AS "APR%",
    round((pow(1 + fees_1d / liquidity, 365) - 1) * 100, 6) AS "APY%",
    round(fees_1d / liquidity * 100, 6) AS "APR_1d%"
FROM joined
"""

# Aggregate-derived double columns: rounded to 6dp on BOTH sides (the
# repo-wide oracle-parity rule) — float sums reassociate across engines at
# the last ulp; per-row packed-string floats are deterministic and stay
# raw for byte parity.
_ROUND_COLS = [
    "total_tokenX_amount_initial_deposit",
    "total_tokenY_amount_initial_deposit",
    "token_x_amount",
    "token_y_amount",
    "token_x(USD)",
    "token_y(USD)",
    "total_token_value(USD)",
    "accrued_fees_token_x",
    "accrued_fees_token_y",
    "accrued_fees_token_x(USD)",
    "accrued_fees_token_y(USD)",
    "value_if_held(USD)",
    "impermanent_loss(USD)",
    "user_%_of_pool_liquidity",
    "APR%",
    "APY%",
    "APR_1d%",
]


@query("snapshot_pipeline", oracle=_SNAPSHOT_SQL)
def snapshot_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end reference pipeline (S2→K1 as one DAG) over all synthetic
    (user, pool) pairs at once — the reference's per-pair loop
    (main.py:11-17) as data parallelism. Correctness of each stage is
    pinned by tests/test_pipeline_parity.py fixtures; the SQL twin above
    replays the whole DAG (synth sources included) in DuckDB, so the
    driver's hash check covers all 46 columns — packed-bin strings
    included, because strict_repr renders floats with Python repr, which is
    byte-identical to DuckDB's DOUBLE::VARCHAR shortest-round-trip form."""
    # Prepared-plan cache: the reference re-runs the IDENTICAL pipeline
    # every hour (main.py:353-359); re-analyzing the same 46-column DAG per
    # cycle is ~1s of pure driver time. DataFrames are immutable — reusing
    # the analyzed plan re-executes it fresh on every action.
    # session-scoped (identity-checked, evicting) — functions/session_cache
    def _build() -> DataFrame:
        pairs, inputs = _synth_inputs(spark, sf_dir)
        snap = build_snapshot(pairs, inputs, RUN_TS, strict_repr=True)
        return snap.withColumns({c: F.round(F.col(f"`{c}`"), 6) for c in _ROUND_COLS})

    return session_cache.get_df(_PLAN_CACHE, spark, sf_dir, _build)
