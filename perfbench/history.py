"""``history_queries``: analyst queries over a snapshot history.

Set-up writes 1 000 pairs x 96 hourly snapshots with the 46-column
``SNAPSHOT_ORDER`` schema through ``sinks.append_snapshot``: one append
per simulated day, partitioned so that every hour lands in files of its
own, as 24 hourly ``snapshot_cycle`` appends leave them (96 separate
appends would cost about a minute of set-up per run).
Column types are taken from ``build_snapshot``'s own output schema; values
are pure functions of (seed, pair, hour), generated inside the JVM.

Each operation reads the store with ``sinks.read_snapshots``, runs one of
five queries built from ``operators.*`` and collects the result to the
driver. DuckDB runs the same five queries on the same parquet files once
at set-up; every collected result is compared with its answer.
"""

from __future__ import annotations

import time
from datetime import date, datetime, timezone
from statistics import median

import duckdb
from pyspark.sql import functions as F

from traderjoe_etl_spark.operators.aggregates import argmax_rows, group_agg
from traderjoe_etl_spark.operators.topk import top_k_per_group
from traderjoe_etl_spark.operators.windows import moving_agg, snapshot_delta
from traderjoe_etl_spark.plans.traderjoe import PAIR_KEYS, SnapshotInputs, build_snapshot
from traderjoe_etl_spark.schemas import (
    BINS_RESERVE_SCHEMA,
    FEES_EARNED_SCHEMA,
    POOL_STATS_SCHEMA,
    SNAPSHOT_ORDER,
    USER_HISTORY_SCHEMA,
)
from traderjoe_etl_spark.sinks import append_snapshot, read_snapshots

from checks import check_frame
from cycle import store_files

N_PAIRS = 1000  # a fifth of the 5 000 first sized: keeps set-up inside the run budget
N_POOLS = 50
HOURS = 96
BASE_TS = int(datetime(2026, 1, 1, tzinfo=timezone.utc).timestamp())
LAST_DAY = date(2026, 1, 4)
# One parquet file per simulated hour. (A snapshot_cycle append writes one
# file per shuffle partition, 4 on local[4]; four files per hour here would
# add about 10 s of set-up per run for 3x smaller files.)
FILES_PER_HOUR = 1
WARMUP_ROUNDS = 4
_TOKEN_Y = "0x" + "b97ef9ef8734c71904d8002f8b6bc66dd9c48a6e"  # one quote token for every pool

def _draws(seed: int, key: str, tags: list[str]) -> list[str]:
    """SQL for uniform draws in [0, 1), one column ``u_<tag>`` per tag,
    a pure function of (seed, tag, key columns)."""
    return [f"pmod(xxhash64({seed}, '{t}', {key}), 1000000007) / 1000000007D AS u_{t}" for t in tags]


def _addr(seed: int, tag: str, key: str) -> str:
    return f"concat('0x', substr(sha2(concat('{seed}', '{tag}', cast({key} AS string)), 256), 1, 40))"


def pool_hours(spark, seed: int):
    """Per (pool, hour): liquidity, prices, fees and the other pool columns."""
    return (
        spark.range(N_POOLS * HOURS)
        .selectExpr(f"id % {N_POOLS} AS pool", f"id div {N_POOLS} AS hour")
        .selectExpr("*", *_draws(seed, "pool", ["liq", "px", "py", "step", "base", "max"]),
                    *_draws(seed, "pool, hour", ["liqh", "vol", "pxh", "bin", "dtx", "dty", "dp", "dm"]))
        .selectExpr(
            "*",
            "1e4 + 1e7 * u_liq * (0.95 + 0.1 * u_liqh) AS liq",
            "0.1 + 1000 * u_px * (0.97 + 0.06 * u_pxh) AS px",
            "0.5 + 2 * u_py AS py",
            _addr(seed, "pool", "pool") + " AS pool_addr",
            _addr(seed, "tx", "pool") + " AS tx_addr",
        )
        .selectExpr("*", "liq * 0.003 * (0.05 + 2 * u_vol) AS fees_1d")
    )


def pairs(spark, seed: int):
    """Per pair: its pool and user, deposits, fee rates and packed strings."""
    entry = "concat(cast(8388600 + {i} AS string), ': ', cast(round(u_b{i} * 100, 6) AS string))"
    packed = "concat('(', repeat(concat_ws('; ', " + ", ".join(entry.format(i=i) for i in range(4)) + "), 5), ')')"
    return (
        spark.range(N_PAIRS)
        .selectExpr("id AS pair", f"id % {N_POOLS} AS pool", f"id div {N_POOLS} AS user")
        .selectExpr("*", *_draws(seed, "pair", ["tx", "ty", "dx", "dy", "dt", "fx", "fy", "b0", "b1", "b2", "b3"]))
        .selectExpr("*", f"{packed} AS packed", _addr(seed, "user", "user") + " AS user_addr")
    )


def day_frame(spark, seed: int, day: int, types: dict[str, str]):
    """24 simulated hours of the history: one snapshot row per pair and
    hour, values a pure function of (seed, pair, hour).

    The fact range (``id`` = hour * N_PAIRS + pair) has FILES_PER_HOUR
    partitions per hour, each a contiguous slice of one hour; the pool
    and pair tables join in by broadcast, which keeps that partitioning,
    so each write task writes one file of one hour."""
    fact = (
        spark.range(day * 24 * N_PAIRS, (day + 1) * 24 * N_PAIRS, 1, 24 * FILES_PER_HOUR)
        .selectExpr(f"id % {N_PAIRS} AS pair", f"id div {N_PAIRS} AS hour")
        .selectExpr("*", *_draws(seed, "pair, hour", ["txh", "fxh"]))
    )
    df = (
        fact.join(F.broadcast(pairs(spark, seed)), "pair")
        .join(F.broadcast(pool_hours(spark, seed)), ["pool", "hour"])
        .selectExpr(
            "*",
            "1e3 * u_tx * (0.9 + 0.2 * u_txh) AS tx",
            "1e3 * u_ty AS ty",
            "u_fx * (hour + 1) * (1 + 0.1 * u_fxh) AS fx",
            "u_fy * (hour + 1) AS fy",
        )
        .selectExpr("*", "1e3 * u_dx * px + 1e3 * u_dy * py AS vih", "tx * px + ty * py AS total")
    )
    out = {
        "current_unix_timestamp": f"{BASE_TS} + hour * 3600",
        "timestamp(datetime_pst)": f"date_format(timestamp_seconds({BASE_TS} + hour * 3600), 'yyyy-MM-dd HH:mm:ss')",
        "pool_name": "concat('POOL', pool)",
        "pool_address": "pool_addr",
        "pool[volume](1h)": "fees_1d / 0.003 / 24",
        "pool[liquidity]": "liq",
        "pool[total_fees(USD)](1h)": "fees_1d / 24",
        "lbBinStep": "cast(1 + 99 * u_step AS int)",
        "base_fee%": "u_base",
        "max_fee%": "1 + 4 * u_max",
        "protocol_fee%": "10.0",
        "token_x_symbol": "concat('TX', pool)",
        "token_y_symbol": "'USDC'",
        "token_x_address": "tx_addr",
        "token_y_address": f"'{_TOKEN_Y}'",
        "pool[token_x_amount]": "liq / 2 / px",
        "pool[token_y_amount]": "liq / 2 / py",
        "token_x_price": "px",
        "token_y_price": "py",
        "activeBinId": "8388608 + cast(1000 * u_bin AS int) - 500",
        "liquidityDepth+2%TokenX": "1e5 * u_dtx",
        "liquidityDepth-2%TokenY": "1e5 * u_dty",
        "liquidityDepth+2%(USD)": "liq * 0.05 * u_dp",
        "liquidityDepth-2%(USD)": "liq * 0.05 * u_dm",
        "user_address": "user_addr",
        "total_tokenX_amount_initial_deposit": "1e3 * u_dx",
        "total_tokenY_amount_initial_deposit": "1e3 * u_dy",
        "MostRecentDepositTime": f"date_format(timestamp_seconds({BASE_TS} - cast(86400 * 30 * u_dt AS bigint)), 'yyyy-MM-dd HH:mm:ss')",
        "token_x_amount": "tx",
        "token_y_amount": "ty",
        "token_x(USD)": "tx * px",
        "token_y(USD)": "ty * py",
        "bin_distribution(bin id: token_x_amount, token_y_amounts)": "packed",
        "total_token_value(USD)": "total",
        "accrued_fees_token_x": "fx",
        "accrued_fees_token_y": "fy",
        "accrued_fees_token_x(USD)": "fx * px",
        "accrued_fees_token_y(USD)": "fy * py",
        "fees_per_bin(bin_id: token_x, token_y_amounts)": "replace(packed, '838860', '838861')",
        "value_if_held(USD)": "vih",
        "impermanent_loss(USD)": "vih - total",
        "user_%_of_pool_liquidity": "total / liq * 100",
        "fees_annual": "fees_1d * 365",
        "APR%": "fees_1d * 365 / liq * 100",
        "APY%": "(pow(1 + fees_1d / liq, 365) - 1) * 100",
        "APR_1d%": "fees_1d / liq * 100",
    }
    return df.selectExpr(*[f"CAST({out[c]} AS {types[c]}) AS `{c}`" for c in SNAPSHOT_ORDER])


def snapshot_schema(spark, tracer):
    """The schema ``build_snapshot`` gives its output (analysis only)."""
    empty = lambda s: spark.createDataFrame([], s)  # noqa: E731
    inputs = SnapshotInputs(
        empty(POOL_STATS_SCHEMA), empty(POOL_STATS_SCHEMA), empty(USER_HISTORY_SCHEMA),
        empty(FEES_EARNED_SCHEMA), empty(BINS_RESERVE_SCHEMA),
    )
    pairs = spark.createDataFrame([], "user_address string, pool_address string")
    with tracer.span("plans.build_snapshot", -1):
        return build_snapshot(pairs, inputs, datetime(2026, 1, 1), strict_repr=True).schema


# --- the five queries -------------------------------------------------------


def _day(df):
    return df.withColumn("day", F.col("snapshot_date").cast("string"))


def q_argmax_rows(df):
    last = df.filter(F.col("snapshot_date") == F.lit(LAST_DAY))
    latest = argmax_rows(last, PAIR_KEYS, ["current_unix_timestamp"])
    return latest.select(*PAIR_KEYS, "current_unix_timestamp", F.col("`total_token_value(USD)`").alias("total_usd"))


def q_snapshot_delta(df):
    d = snapshot_delta(_day(df), PAIR_KEYS, ["current_unix_timestamp"], "accrued_fees_token_x(USD)", out="fee_growth")
    return group_agg(d, ["pool_address", "day"], {"fee_growth": ("sum", "fee_growth")})


def q_moving_agg(df):
    hourly = group_agg(df, ["pool_address", "current_unix_timestamp"], {"apr": ("avg", "APR%")})
    return moving_agg(hourly, ["pool_address"], ["current_unix_timestamp"], "apr", 23, "avg", out="apr_24h")


def q_top_k_per_group(df):
    last = df.filter(F.col("snapshot_date") == F.lit(LAST_DAY))
    il = group_agg(last, PAIR_KEYS, {"il": ("max", "impermanent_loss(USD)")})
    return top_k_per_group(il, ["pool_address"], ["il", "user_address"], 10)


def q_group_agg(df):
    return group_agg(
        _day(df),
        ["pool_address", "day"],
        {
            "rows": ("count", "user_address"),
            "users": ("count_distinct", "user_address"),
            "tvl_usd": ("sum", "total_token_value(USD)"),
            "fees_usd": ("sum", "accrued_fees_token_x(USD)"),
            "apr": ("avg", "APR%"),
        },
    )


LAST = f"CAST(snapshot_date AS VARCHAR) = '{LAST_DAY.isoformat()}'"
# name -> (spark query, DuckDB twin, sort keys of the result)
QUERIES = {
    "argmax_rows": (
        q_argmax_rows,
        f"""SELECT user_address, pool_address, current_unix_timestamp, "total_token_value(USD)" AS total_usd
            FROM (SELECT *, rank() OVER (PARTITION BY user_address, pool_address
                                         ORDER BY current_unix_timestamp DESC) AS rk
                  FROM snap WHERE {LAST}) WHERE rk = 1""",
        PAIR_KEYS,
    ),
    "snapshot_delta": (
        q_snapshot_delta,
        """SELECT pool_address, CAST(snapshot_date AS VARCHAR) AS day, sum(g) AS fee_growth
           FROM (SELECT *, "accrued_fees_token_x(USD)" - lag("accrued_fees_token_x(USD)") OVER (
                     PARTITION BY user_address, pool_address ORDER BY current_unix_timestamp) AS g
                 FROM snap) GROUP BY 1, 2""",
        ["pool_address", "day"],
    ),
    "moving_agg": (
        q_moving_agg,
        """SELECT pool_address, current_unix_timestamp, apr,
                  avg(apr) OVER (PARTITION BY pool_address ORDER BY current_unix_timestamp
                                 ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) AS apr_24h
           FROM (SELECT pool_address, current_unix_timestamp, avg("APR%") AS apr
                 FROM snap GROUP BY 1, 2)""",
        ["pool_address", "current_unix_timestamp"],
    ),
    "top_k_per_group": (
        q_top_k_per_group,
        f"""SELECT user_address, pool_address, il FROM (
                SELECT *, row_number() OVER (PARTITION BY pool_address
                                             ORDER BY il DESC, user_address DESC) AS rn
                FROM (SELECT user_address, pool_address, max("impermanent_loss(USD)") AS il
                      FROM snap WHERE {LAST} GROUP BY 1, 2)) WHERE rn <= 10""",
        ["pool_address", "user_address"],
    ),
    "group_agg": (
        q_group_agg,
        """SELECT pool_address, CAST(snapshot_date AS VARCHAR) AS day, count(user_address) AS "rows",
                  count(DISTINCT user_address) AS users, sum("total_token_value(USD)") AS tvl_usd,
                  sum("accrued_fees_token_x(USD)") AS fees_usd, avg("APR%") AS apr
           FROM snap GROUP BY 1, 2""",
        ["pool_address", "day"],
    ),
}
NAMES = list(QUERIES)


class HistoryQueries:
    """One operation = one analyst query, rotating through :data:`QUERIES`."""

    items_per_op = 1

    def __init__(self, spark, seed: int, workdir: str, tracer):
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.store = f"{workdir}/snapshots"
        self.oracle = {}
        self.results = {}  # op id -> (query name, collected pandas frame)
        self.phases: dict[str, float] = {}
        self.appends: list[tuple[int, float]] = []  # (files, bytes per row) per set-up append

    def setup(self) -> None:
        t = time.perf_counter()
        types = {f.name: f.dataType.simpleString() for f in snapshot_schema(self.spark, self.tracer).fields}
        for day in range(HOURS // 24):
            files0, bytes0 = store_files(self.store)
            with self.tracer.span("sinks.append_snapshot", -1):
                append_snapshot(day_frame(self.spark, self.seed, day, types), self.store)
            files, size = store_files(self.store)
            self.appends.append((files - files0, (size - bytes0) / (24 * N_PAIRS)))
        self.phases["store_s"] = time.perf_counter() - t
        t = time.perf_counter()
        con = duckdb.connect(config={"temp_directory": f"{self.store}-duckdb"})
        try:
            con.execute(
                f"CREATE VIEW snap AS SELECT * FROM read_parquet('{self.store}/**/*.parquet', hive_partitioning = true)"
            )
            self.oracle = {name: con.execute(sql).df() for name, (_, sql, _) in QUERIES.items()}
        finally:
            con.close()
        self.phases["oracle_s"] = time.perf_counter() - t
        t = time.perf_counter()
        # Warm-up: four untraced rounds of the five queries. The JIT keeps
        # improving a plan shape over its first few executions: after two
        # rounds the queries still got ~20 % faster over the next five, so
        # a run that fit four rounds instead of five read a higher median.
        with self.tracer.paused():
            for i in range(WARMUP_ROUNDS * len(NAMES)):
                self.op(-1 - i, i)
        self.phases["warmup_s"] = time.perf_counter() - t

    def op(self, op_id: int, kind: int = 0) -> None:
        name = NAMES[kind % len(NAMES)]
        with self.tracer.span("sinks.read_snapshots", op_id):
            df = read_snapshots(self.spark, self.store)
        with self.tracer.span(f"operators.{name}", op_id):
            out = QUERIES[name][0](df).toPandas()
        self.results[op_id] = (name, out)

    def check(self) -> tuple[set[int], list[str]]:
        failed, msgs = set(), []
        for op_id, (name, got) in self.results.items():
            errors = check_frame(got, self.oracle[name], QUERIES[name][2])
            if errors:
                failed.add(op_id)
                msgs.extend(f"{name} (op {op_id}): {e}" for e in errors[:3])
        return failed, msgs

    def summary(self) -> dict:
        return {f"setup.{k}": (v, "s") for k, v in self.phases.items()}

    def per_layer(self) -> dict[str, float]:
        tr = self.tracer
        out = {
            "plans.build_snapshot_s": tr.median_of("plans.build_snapshot"),
            "sinks.append_snapshot_s": tr.median_of("sinks.append_snapshot"),
            "sinks.files_per_append": median(f for f, _ in self.appends),
            "sinks.bytes_per_row": median(b for _, b in self.appends),
            "sinks.read_snapshots_s": tr.median_of("sinks.read_snapshots"),
            "sinks.store_files": store_files(self.store)[0],
        }
        for name in NAMES:
            out[f"operators.{name}_s"] = tr.median_of(f"operators.{name}")
            out[f"operators.{name}.stages"] = tr.median_of(f"operators.{name}", "stages")
            out[f"operators.{name}.tasks"] = tr.median_of(f"operators.{name}", "tasks")
        return out
