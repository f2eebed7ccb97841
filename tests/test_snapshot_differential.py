"""Full-row differential of the snapshot cycle over realistic inputs.

A small ``perfbench/fixtures.py`` universe (20 pairs over at least 6
pools: withdrawals, mixed token decimals, uint-scale bin reserves) runs
through the REST and RPC sources and ``build_snapshot(strict_repr=True)``.
Every one of the 46 columns is compared with DuckDB SQL written here
from the reference's own steps (main.py:107-286) over the raw fixture
payloads: the two-step "max block, then max timestamp" latest deposit
(main.py:130-133), scaled sums (main.py:234) and ``ORDER BY binId``
packed strings. The SQL shares no text with the program or with the
registry's ``snapshot_pipeline`` oracle, so neither can check itself.

Floats compare at relative 1e-9 (sum order differs between engines);
packed strings (byte for byte, including the per-bin amounts at or above
2^53), ``MostRecentDepositTime`` and every non-float column compare
exactly. Three pairs are edited into edge cases: one whose latest
deposits tie on (blockNumber, timestamp), one with no deposit, no fee
and no bin, and one whose bins carry uint256 shares above 10^38 and a
reserve next to 2^128, past any Spark decimal.
"""

from __future__ import annotations

import math
import os
import sys
from datetime import datetime, timezone

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import fixtures as fx  # noqa: E402  (perfbench/fixtures.py)
from pyspark.sql import functions as F  # noqa: E402

from traderjoe_etl_spark.plans.traderjoe import SnapshotInputs, build_snapshot  # noqa: E402
from traderjoe_etl_spark.schemas import (  # noqa: E402
    FEES_EARNED_SCHEMA,
    POOL_STATS_SCHEMA,
    SNAPSHOT_ORDER,
    USER_HISTORY_SCHEMA,
)
from traderjoe_etl_spark.sources.rest import quarantine, rest_snapshot_source  # noqa: E402
from traderjoe_etl_spark.sources.rpc import rpc_bins_source  # noqa: E402

SEED = 2024
CYCLE = 3
RUN_TS = datetime(2026, 1, 1, 3, tzinfo=timezone.utc)

# Output types of the snapshot; every column not named here is a double.
NON_DOUBLE = {
    "current_unix_timestamp": "bigint",
    "timestamp(datetime_pst)": "string",
    "pool_name": "string",
    "pool_address": "string",
    "lbBinStep": "int",
    "token_x_symbol": "string",
    "token_y_symbol": "string",
    "token_x_address": "string",
    "token_y_address": "string",
    "activeBinId": "int",
    "user_address": "string",
    "MostRecentDepositTime": "string",
    "bin_distribution(bin id: token_x_amount, token_y_amounts)": "string",
    "fees_per_bin(bin_id: token_x, token_y_amounts)": "string",
}


def _payloads(u):
    """Raw payloads of one cycle, keyed like the fixture endpoints, with
    the tie pair, the empty pair and the uint256 pair edited in."""
    pools = {(p, w): fx.pool_stats(u.seed, p, w, CYCLE) for p in u.pools for w in ("1d", "1h")}
    hist = {k: fx.history(u.seed, *k, CYCLE) for k in u.pairs}
    fees = {k: fx.fees(u.seed, *k, CYCLE) for k in u.pairs}
    bins = {k: fx.bins(u.seed, *k, pools[(k[1], "1d")]["activeBinId"], CYCLE) for k in u.pairs}
    tie, empty, whale = u.pairs[0], u.pairs[1], u.pairs[2]
    rows = hist[tie]
    top = max(r["blockNumber"] for r in rows) + 1
    for r, ts in zip(rows[-3:], ("2025-11-29T00:00:00", "2025-11-30T12:00:00", "2025-11-30T12:00:00")):
        r.update(isDeposit=True, blockNumber=top, timestamp=ts)
    for r in hist[empty]:
        r["isDeposit"] = False
    fees[empty], bins[empty] = [], []
    active = pools[(whale[1], "1d")]["activeBinId"]
    bins[whale] = [(active, 2**128 - 1, 10**24, 10**40, 4 * 10**40), (active + 1, 2**127 + 1, 0, 10**38, 10**38)]
    return pools, hist, fees, bins


def _program(spark, u, pools, hist, fees, bins):
    """The cycle as the benchmark runs it: sources, quarantine, build."""

    def fetch(url, params):
        kind, a, b = url.removeprefix("bench://").split("/")
        return [pools[(a, b)]] if kind == "pools" else (hist if kind == "history" else fees)[(a, b)]

    def call(pool, user, active, plus, minus):
        return bins[(user, pool)]

    pairs = spark.createDataFrame(list(u.pairs), "user_address string, pool_address string")
    pool_keys = spark.createDataFrame([(p,) for p in u.pools], "k_pool string")
    pair_keys = pairs.select(F.col("user_address").alias("k_user"), F.col("pool_address").alias("k_pool"))

    def rest(keys, url, schema):
        return quarantine(rest_snapshot_source(keys, url, schema, fetcher=fetch))[0].drop("k_user", "k_pool")

    p1d = rest(pool_keys, "bench://pools/{k_pool}/1d", POOL_STATS_SCHEMA)
    bin_keys = pairs.join(p1d.select(F.col("pairAddress").alias("pool_address"), "activeBinId"), "pool_address")
    inputs = SnapshotInputs(
        pools_1d=p1d,
        pools_1h=rest(pool_keys, "bench://pools/{k_pool}/1h", POOL_STATS_SCHEMA),
        history=rest(pair_keys, "bench://history/{k_user}/{k_pool}", USER_HISTORY_SCHEMA),
        fees=rest(pair_keys, "bench://fees/{k_user}/{k_pool}", FEES_EARNED_SCHEMA),
        bins=quarantine(
            rpc_bins_source(
                bin_keys.select("user_address", F.col("pool_address").alias("poolAddress"), "activeBinId"), call
            )
        )[0],
    )
    return build_snapshot(pairs, inputs, RUN_TS, strict_repr=True)


ORACLE_SQL = """
WITH dep AS (
    SELECT user_address, pool_address, blockNumber, CAST(ts AS TIMESTAMP) AS ts,
           COALESCE(TRY_CAST(amount_x AS DOUBLE), 0) AS ax,
           COALESCE(TRY_CAST(amount_y AS DOUBLE), 0) AS ay
    FROM history WHERE is_deposit
),
max_block AS (
    SELECT d.* FROM dep d
    JOIN (SELECT user_address, pool_address, max(blockNumber) AS b FROM dep GROUP BY 1, 2) m
      ON d.user_address = m.user_address AND d.pool_address = m.pool_address AND d.blockNumber = m.b
),
latest AS (
    SELECT d.* FROM max_block d
    JOIN (SELECT user_address, pool_address, max(ts) AS t FROM max_block GROUP BY 1, 2) m
      ON d.user_address = m.user_address AND d.pool_address = m.pool_address AND d.ts = m.t
),
deposits AS (
    SELECT user_address, pool_address, sum(ax) AS dep_x, sum(ay) AS dep_y,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts
    FROM latest GROUP BY 1, 2
),
fee AS (
    SELECT user_address, pool_address,
           sum(COALESCE(TRY_CAST(fx AS DOUBLE), 0)) AS fee_x,
           sum(COALESCE(TRY_CAST(fy AS DOUBLE), 0)) AS fee_y,
           '(' || string_agg(
               CAST(bin_id AS VARCHAR) || ': ' || CAST(COALESCE(TRY_CAST(fx AS DOUBLE), 0) AS VARCHAR)
               || ', ' || CAST(COALESCE(TRY_CAST(fy AS DOUBLE), 0) AS VARCHAR),
               '; ' ORDER BY bin_id) || ')' AS packed
    FROM fees GROUP BY 1, 2
),
bin_share AS (
    SELECT b.user_address, b.pool_address, b.bin_id, p.dec_x, p.dec_y,
           CAST(b.rx AS DOUBLE) * (CAST(b.sh AS DOUBLE) / CAST(b.tsh AS DOUBLE)) AS raw_x,
           CAST(b.ry AS DOUBLE) * (CAST(b.sh AS DOUBLE) / CAST(b.tsh AS DOUBLE)) AS raw_y
    FROM bins b JOIN pools p ON p.address = b.pool_address AND p.win = '1d'
),
position AS (
    SELECT user_address, pool_address,
           sum(raw_x) / pow(10, any_value(dec_x)) AS amt_x,
           sum(raw_y) / pow(10, any_value(dec_y)) AS amt_y,
           '(' || string_agg(
               CAST(bin_id AS VARCHAR) || ': ' || CAST(raw_x / pow(10, dec_x) AS VARCHAR)
               || ', ' || CAST(raw_y / pow(10, dec_y) AS VARCHAR),
               '; ' ORDER BY bin_id) || ')' AS packed
    FROM bin_share GROUP BY 1, 2
),
row_ AS (
    SELECT pr.user_address, pr.pool_address, d.* EXCLUDE (win, address, fees, volume),
           d.fees AS fees_1d, h.volume AS vol_1h, h.fees AS fees_1h,
           COALESCE(dep.dep_x, 0) AS dep_x, COALESCE(dep.dep_y, 0) AS dep_y, dep.last_ts,
           COALESCE(pos.amt_x, 0) AS amt_x, COALESCE(pos.amt_y, 0) AS amt_y,
           COALESCE(pos.packed, '()') AS bins_packed,
           COALESCE(fee.fee_x, 0) AS fee_x, COALESCE(fee.fee_y, 0) AS fee_y,
           COALESCE(fee.packed, '()') AS fees_packed
    FROM pairs pr
    LEFT JOIN pools d ON d.address = pr.pool_address AND d.win = '1d'
    LEFT JOIN pools h ON h.address = pr.pool_address AND h.win = '1h'
    LEFT JOIN deposits dep ON dep.user_address = pr.user_address AND dep.pool_address = pr.pool_address
    LEFT JOIN fee ON fee.user_address = pr.user_address AND fee.pool_address = pr.pool_address
    LEFT JOIN position pos ON pos.user_address = pr.user_address AND pos.pool_address = pr.pool_address
)
SELECT
    $run_unix AS "current_unix_timestamp",
    $run_text AS "timestamp(datetime_pst)",
    name AS "pool_name",
    pool_address AS "pool_address",
    vol_1h AS "pool[volume](1h)",
    liquidity AS "pool[liquidity]",
    fees_1h AS "pool[total_fees(USD)](1h)",
    bin_step AS "lbBinStep",
    base_fee AS "base_fee%",
    max_fee AS "max_fee%",
    protocol_share AS "protocol_fee%",
    sym_x AS "token_x_symbol",
    sym_y AS "token_y_symbol",
    addr_x AS "token_x_address",
    addr_y AS "token_y_address",
    reserve_x AS "pool[token_x_amount]",
    reserve_y AS "pool[token_y_amount]",
    price_x AS "token_x_price",
    price_y AS "token_y_price",
    active_bin AS "activeBinId",
    depth_x AS "liquidityDepth+2%TokenX",
    depth_y AS "liquidityDepth-2%TokenY",
    depth_plus AS "liquidityDepth+2%(USD)",
    depth_minus AS "liquidityDepth-2%(USD)",
    user_address AS "user_address",
    dep_x AS "total_tokenX_amount_initial_deposit",
    dep_y AS "total_tokenY_amount_initial_deposit",
    last_ts AS "MostRecentDepositTime",
    amt_x AS "token_x_amount",
    amt_y AS "token_y_amount",
    price_x * amt_x AS "token_x(USD)",
    price_y * amt_y AS "token_y(USD)",
    bins_packed AS "bin_distribution(bin id: token_x_amount, token_y_amounts)",
    price_x * amt_x + price_y * amt_y AS "total_token_value(USD)",
    fee_x AS "accrued_fees_token_x",
    fee_y AS "accrued_fees_token_y",
    fee_x * price_x AS "accrued_fees_token_x(USD)",
    fee_y * price_y AS "accrued_fees_token_y(USD)",
    fees_packed AS "fees_per_bin(bin_id: token_x, token_y_amounts)",
    dep_x * price_x + dep_y * price_y AS "value_if_held(USD)",
    (dep_x * price_x + dep_y * price_y) - (price_x * amt_x + price_y * amt_y) AS "impermanent_loss(USD)",
    (price_x * amt_x + price_y * amt_y) / NULLIF(liquidity, 0) * 100 AS "user_%_of_pool_liquidity",
    fees_1d * 365 AS "fees_annual",
    fees_1d * 365 / NULLIF(liquidity, 0) * 100 AS "APR%",
    (pow(1 + fees_1d / NULLIF(liquidity, 0), 365) - 1) * 100 AS "APY%",
    fees_1d / NULLIF(liquidity, 0) * 100 AS "APR_1d%"
FROM row_
"""


def _oracle(u, pools, hist, fees, bins):
    """DuckDB over the payloads, loaded as flat tables (no arithmetic)."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    tables = {
        "pairs": pd.DataFrame(list(u.pairs), columns=["user_address", "pool_address"]),
        "pools": pd.DataFrame(
            [
                {
                    "win": w, "address": p["pairAddress"], "name": p["name"], "volume": p["volumeUsd"],
                    "liquidity": p["liquidityUsd"], "fees": p["feesUsd"],
                    "addr_x": p["tokenX"]["address"], "addr_y": p["tokenY"]["address"],
                    "sym_x": p["tokenX"]["symbol"], "sym_y": p["tokenY"]["symbol"],
                    "dec_x": p["tokenX"]["decimals"], "dec_y": p["tokenY"]["decimals"],
                    "price_x": p["tokenX"]["priceUsd"], "price_y": p["tokenY"]["priceUsd"],
                    "reserve_x": p["reserveX"], "reserve_y": p["reserveY"], "bin_step": p["lbBinStep"],
                    "base_fee": p["lbBaseFeePct"], "max_fee": p["lbMaxFeePct"],
                    "protocol_share": p["protocolSharePct"], "active_bin": p["activeBinId"],
                    "depth_minus": p["liquidityDepthMinus"], "depth_plus": p["liquidityDepthPlus"],
                    "depth_x": p["liquidityDepthTokenX"], "depth_y": p["liquidityDepthTokenY"],
                }
                for (_, w), p in pools.items()
            ]
        ),
        "history": pd.DataFrame(
            [
                (user, pool, r["timestamp"], r["isDeposit"], r["blockNumber"],
                 r["tokenX"]["amount"], r["tokenY"]["amount"])
                for (user, pool), rows in hist.items() for r in rows
            ],
            columns=["user_address", "pool_address", "ts", "is_deposit", "blockNumber", "amount_x", "amount_y"],
        ),
        "fees": pd.DataFrame(
            [(user, pool, r["binId"], r["accruedFeesX"], r["accruedFeesY"])
             for (user, pool), rows in fees.items() for r in rows],
            columns=["user_address", "pool_address", "bin_id", "fx", "fy"],
        ),
        # uint-scale integers travel as text; the SQL casts them to DOUBLE
        "bins": pd.DataFrame(
            [(user, pool, b, str(rx), str(ry), str(sh), str(tsh))
             for (user, pool), rows in bins.items() for b, rx, ry, sh, tsh in rows],
            columns=["user_address", "pool_address", "bin_id", "rx", "ry", "sh", "tsh"],
        ),
    }
    for name, df in tables.items():
        con.register(name, df)
    cur = con.execute(
        ORACLE_SQL,
        {"run_unix": int(RUN_TS.timestamp()), "run_text": RUN_TS.strftime("%Y-%m-%d %H:%M:%S")},
    )
    cols = [d[0] for d in cur.description]
    return cols, [dict(zip(cols, r)) for r in cur.fetchall()]


def _same(a, b, is_double: bool) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if is_double:
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=1e-9)
    return a == b


@pytest.fixture(scope="module")
def universe():
    u = fx.make_universe(SEED, n_pools=8, n_pairs=20)
    assert len(u.pairs) == 20 and len({p for _, p in u.pairs}) >= 6
    return u


def test_snapshot_matches_duckdb_over_raw_payloads(spark, universe):
    payloads = _payloads(universe)
    snap = _program(spark, universe, *payloads)
    assert {f.name: f.dataType.simpleString() for f in snap.schema.fields} == {
        c: NON_DOUBLE.get(c, "double") for c in SNAPSHOT_ORDER
    }
    assert snap.columns == SNAPSHOT_ORDER
    got = {(r["user_address"], r["pool_address"]): r.asDict() for r in snap.collect()}
    cols, want_rows = _oracle(universe, *payloads)
    assert cols == SNAPSHOT_ORDER
    want = {(r["user_address"], r["pool_address"]): r for r in want_rows}
    assert sorted(got) == sorted(want) == sorted(universe.pairs)

    tie, empty, whale = universe.pairs[0], universe.pairs[1], universe.pairs[2]
    assert want[tie]["MostRecentDepositTime"] == "2025-11-30 12:00:00"
    assert want[empty]["MostRecentDepositTime"] is None
    assert want[empty]["fees_per_bin(bin_id: token_x, token_y_amounts)"] == "()"
    assert want[whale]["bin_distribution(bin id: token_x_amount, token_y_amounts)"].count(";") == 1
    mismatches = [
        f"{key} {c}: program {got[key][c]!r} != oracle {want[key][c]!r}"
        for key in sorted(want)
        for c in SNAPSHOT_ORDER
        if not _same(got[key][c], want[key][c], c not in NON_DOUBLE)
    ]
    assert not mismatches, "\n".join(mismatches[:20])
