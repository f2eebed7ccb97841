"""Reference-semantics fixture tests (SURVEY.md §5.2).

Synthetic payloads shaped exactly like the S2-S6 responses (FIXTURES.md §A)
run through the full snapshot plan; expected values are hand-computed from
the reference's arithmetic (main.py:198-201, 227-286). Covers the §2C edge
cases: argmax ties, the empty-deposits branch, /0 → NULL scrub, missing
API columns, uint128-scale bin values.
"""

from __future__ import annotations

import math
import os
import sys
from datetime import datetime, timezone

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from traderjoe_etl_spark.plans.traderjoe import SnapshotInputs, build_snapshot
from traderjoe_etl_spark.schemas import (
    BINS_RESERVE_SCHEMA,
    FEES_EARNED_SCHEMA,
    POOL_STATS_SCHEMA,
    SNAPSHOT_ORDER,
    SNAPSHOT_SCHEMA,
    USER_HISTORY_SCHEMA,
)

RUN_TS = datetime(2026, 1, 1, 12, 0, 0, tzinfo=timezone.utc)
USER = "0xuser1"
POOL = "0xpoolA"


def _pool_row(pair=POOL, name="TOKX-TOKY", liquidity=1000.0, fees=10.0, volume=500.0):
    return {
        "pairAddress": pair,
        "name": name,
        "volumeUsd": volume,
        "liquidityUsd": liquidity,
        "feesUsd": fees,
        "tokenX": {"address": "0xtx", "symbol": "TOKX", "decimals": 6, "priceUsd": 2.0},
        "tokenY": {"address": "0xty", "symbol": "TOKY", "decimals": 18, "priceUsd": 0.5},
        "reserveX": 1111.0,
        "reserveY": 2222.0,
        "lbBinStep": 25,
        "lbBaseFeePct": 0.1,
        "lbMaxFeePct": 1.0,
        "protocolSharePct": 5.0,
        "activeBinId": 8388608,
        "liquidityDepthMinus": 100.0,
        "liquidityDepthPlus": 120.0,
        "liquidityDepthTokenX": 50.0,
        "liquidityDepthTokenY": 60.0,
    }


def _history_rows():
    # blocks: 100 (old), 200 (max; two rows at ts T2 = tie, one at older T1),
    # plus a withdrawal at block 300 (excluded by F1 before the argmax).
    return [
        {"user_address": USER, "timestamp": "2025-12-01T00:00:00", "isDeposit": True,
         "poolAddress": POOL, "pairName": "TOKX-TOKY", "binId": 1,
         "tokenX": {"amount": "5", "price": "2.0"}, "tokenY": {"amount": "7", "price": "0.5"},
         "blockNumber": 100},
        {"user_address": USER, "timestamp": "2025-12-02T00:00:00", "isDeposit": True,
         "poolAddress": POOL, "pairName": "TOKX-TOKY", "binId": 2,
         "tokenX": {"amount": "1.5", "price": "2.0"}, "tokenY": {"amount": "2", "price": "0.5"},
         "blockNumber": 200},
        {"user_address": USER, "timestamp": "2025-12-02T00:10:00", "isDeposit": True,
         "poolAddress": POOL, "pairName": "TOKX-TOKY", "binId": 3,
         "tokenX": {"amount": "2.5", "price": "2.0"}, "tokenY": {"amount": "3", "price": "0.5"},
         "blockNumber": 200},
        {"user_address": USER, "timestamp": "2025-12-02T00:10:00", "isDeposit": True,
         "poolAddress": POOL, "pairName": "TOKX-TOKY", "binId": 4,
         "tokenX": {"amount": "4", "price": "2.0"}, "tokenY": {"amount": None, "price": None},
         "blockNumber": 200},
        {"user_address": USER, "timestamp": "2025-12-03T00:00:00", "isDeposit": False,
         "poolAddress": POOL, "pairName": "TOKX-TOKY", "binId": 2,
         "tokenX": {"amount": "99", "price": "2.0"}, "tokenY": {"amount": "99", "price": "0.5"},
         "blockNumber": 300},
    ]


def _fees_rows():
    # deliberately unsorted bin order (string must come out bin-sorted)
    return [
        {"user_address": USER, "poolAddress": POOL, "binId": 9, "accruedFeesX": "0.5", "accruedFeesY": "0.25"},
        {"user_address": USER, "poolAddress": POOL, "binId": 3, "accruedFeesX": "1.5", "accruedFeesY": "0.75"},
    ]


def _bins_rows():
    # shares == totalShares (100%) in bin 10; uint128-scale magnitudes in bin 11
    big = 2.0**100  # far beyond int64
    return [
        {"user_address": USER, "poolAddress": POOL, "binId": 10,
         "reserveX": 4_000_000.0, "reserveY": 1e18,
         "shares": 500.0, "totalShares": 500.0},
        {"user_address": USER, "poolAddress": POOL, "binId": 11,
         "reserveX": 2_000_000.0, "reserveY": 0.0,
         "shares": big, "totalShares": big * 2},
    ]


def _fixture_inputs(spark):
    inputs = SnapshotInputs(
        pools_1d=spark.createDataFrame([_pool_row()], POOL_STATS_SCHEMA),
        pools_1h=spark.createDataFrame(
            [{**_pool_row(), "volumeUsd": 42.0, "feesUsd": 1.5}], POOL_STATS_SCHEMA
        ),
        history=spark.createDataFrame(_history_rows(), USER_HISTORY_SCHEMA),
        fees=spark.createDataFrame(_fees_rows(), FEES_EARNED_SCHEMA),
        bins=spark.createDataFrame(_bins_rows(), BINS_RESERVE_SCHEMA),
    )
    pairs = spark.createDataFrame([(USER, POOL)], "user_address string, pool_address string")
    return pairs, inputs


@pytest.fixture(scope="module")
def snapshot(spark):
    pairs, inputs = _fixture_inputs(spark)
    df = build_snapshot(pairs, inputs, RUN_TS)
    rows = df.collect()
    assert len(rows) == 1
    return rows[0].asDict()


def test_column_order_full(snapshot):
    assert list(snapshot.keys()) == SNAPSHOT_ORDER


def test_strict_repr_packed_string(spark):
    # floats whose JVM rendering differs from Python repr: 1e16 (Spark
    # "1.0E16") and 0.0001 (Spark "1.0E-4") — strict mode must emit the
    # reference's f-string bytes (main.py:168, 239) in both packed strings.
    # The bin amounts are scaled by 10^6 (token x) and 10^18 (token y).
    inputs = SnapshotInputs(
        pools_1d=spark.createDataFrame([_pool_row()], POOL_STATS_SCHEMA),
        pools_1h=spark.createDataFrame([_pool_row()], POOL_STATS_SCHEMA),
        history=spark.createDataFrame([], USER_HISTORY_SCHEMA),
        fees=spark.createDataFrame(
            [
                {"user_address": USER, "poolAddress": POOL, "binId": 5,
                 "accruedFeesX": 1e16, "accruedFeesY": 0.0001},
            ],
            FEES_EARNED_SCHEMA,
        ),
        bins=spark.createDataFrame(
            [
                {"user_address": USER, "poolAddress": POOL, "binId": 7,
                 "reserveX": 1e22, "reserveY": 1e14,
                 "shares": 1.0, "totalShares": 1.0},
            ],
            BINS_RESERVE_SCHEMA,
        ),
    )
    pairs = spark.createDataFrame([(USER, POOL)], "user_address string, pool_address string")
    fees_col = "fees_per_bin(bin_id: token_x, token_y_amounts)"
    bins_col = "bin_distribution(bin id: token_x_amount, token_y_amounts)"
    row = build_snapshot(pairs, inputs, RUN_TS, strict_repr=True).collect()[0].asDict()
    assert row[fees_col] == f"(5: {1e16!r}, {0.0001!r})"
    assert row[bins_col] == f"(7: {1e16!r}, {0.0001!r})"
    # default mode keeps the (documented) JVM rendering
    row_jvm = build_snapshot(pairs, inputs, RUN_TS).collect()[0].asDict()
    assert row_jvm[fees_col] == "(5: 1.0E16, 1.0E-4)"
    assert row_jvm[bins_col] == "(7: 1.0E16, 1.0E-4)"


def test_strict_build_py4j_budget(spark, monkeypatch):
    """A warm strict build is one SQL statement over the inputs, not a
    plan composed Column by Column over py4j (3 133 commands when it was,
    6 225 before the float renderers were reused)."""
    from py4j.java_gateway import GatewayClient

    pairs, inputs = _fixture_inputs(spark)
    build_snapshot(pairs, inputs, RUN_TS, strict_repr=True)
    sent = []
    send = GatewayClient.send_command

    def counted(self, command, *args, **kwargs):
        if not command.startswith("m\n"):  # memory deletes follow Python GC
            sent.append(command)
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counted)
    build_snapshot(pairs, inputs, RUN_TS, strict_repr=True)
    monkeypatch.undo()
    assert len(sent) <= 21, len(sent)  # 17 measured, + 25 %


def test_argmax_tie_sums_all_rows(snapshot):
    # block 200 wins; within it ts 00:10 wins; BOTH tied rows summed
    # (main.py:130-135; rank not row_number — SURVEY §2C.4)
    assert snapshot["total_tokenX_amount_initial_deposit"] == pytest.approx(2.5 + 4.0)
    # row 4's tokenY amount is missing → default 0 (main.py:115-118)
    assert snapshot["total_tokenY_amount_initial_deposit"] == pytest.approx(3.0 + 0.0)
    assert snapshot["MostRecentDepositTime"] == "2025-12-02 00:10:00"


def test_value_if_held(snapshot):
    # D1: 6.5*2.0 + 3.0*0.5
    assert snapshot["value_if_held(USD)"] == pytest.approx(6.5 * 2.0 + 3.0 * 0.5)


def test_fee_totals_and_sorted_packed_string(snapshot):
    assert snapshot["accrued_fees_token_x"] == pytest.approx(2.0)
    assert snapshot["accrued_fees_token_y"] == pytest.approx(1.0)
    # bin-sorted (3 before 9) regardless of input order
    assert snapshot["fees_per_bin(bin_id: token_x, token_y_amounts)"] == "(3: 1.5, 0.75; 9: 0.5, 0.25)"
    # D3
    assert snapshot["accrued_fees_token_x(USD)"] == pytest.approx(2.0 * 2.0)
    assert snapshot["accrued_fees_token_y(USD)"] == pytest.approx(1.0 * 0.5)


def test_bin_pro_rata_and_scaling(snapshot):
    # bin 10: 100% of 4e6 raw X (6 decimals → 4.0), 100% of 1e18 raw Y (18 dec → 1.0)
    # bin 11: 50% of 2e6 raw X → 1e6 → 1.0; Y 0
    assert snapshot["token_x_amount"] == pytest.approx(5.0)
    assert snapshot["token_y_amount"] == pytest.approx(1.0)
    # D2
    assert snapshot["token_x(USD)"] == pytest.approx(10.0)
    assert snapshot["token_y(USD)"] == pytest.approx(0.5)
    assert snapshot["total_token_value(USD)"] == pytest.approx(10.5)
    # D4: IL = value_if_held - total_token_value
    assert snapshot["impermanent_loss(USD)"] == pytest.approx((6.5 * 2.0 + 1.5) - 10.5)


def test_share_and_apr_family(snapshot):
    # D5: 10.5/1000*100
    assert snapshot["user_%_of_pool_liquidity"] == pytest.approx(1.05)
    # D6: fees_1d=10, liquidity=1000
    assert snapshot["fees_annual"] == pytest.approx(3650.0)
    assert snapshot["APR%"] == pytest.approx(365.0)
    assert snapshot["APY%"] == pytest.approx(((1 + 10 / 1000) ** 365 - 1) * 100)
    assert snapshot["APR_1d%"] == pytest.approx(1.0)
    # APY >= APR for positive rates (property from SURVEY §5.3)
    assert snapshot["APY%"] >= snapshot["APR_1d%"] * 365 - 1e-9


def test_1h_slice_joined(snapshot):
    assert snapshot["pool[volume](1h)"] == pytest.approx(42.0)
    assert snapshot["pool[total_fees(USD)](1h)"] == pytest.approx(1.5)


def test_run_ts_injected(snapshot):
    assert snapshot["current_unix_timestamp"] == int(RUN_TS.timestamp())
    assert snapshot["timestamp(datetime_pst)"] == "2026-01-01 12:00:00"


def _empty_inputs(spark, pool_row):
    return SnapshotInputs(
        pools_1d=spark.createDataFrame([pool_row], POOL_STATS_SCHEMA),
        pools_1h=spark.createDataFrame([pool_row], POOL_STATS_SCHEMA),
        history=spark.createDataFrame([], USER_HISTORY_SCHEMA),
        fees=spark.createDataFrame([], FEES_EARNED_SCHEMA),
        bins=spark.createDataFrame([], BINS_RESERVE_SCHEMA),
    )


def test_empty_deposits_branch(spark):
    """main.py:143-153: no history → zero amounts, NULL deposit time."""
    pairs = spark.createDataFrame([(USER, POOL)], "user_address string, pool_address string")
    row = build_snapshot(pairs, _empty_inputs(spark, _pool_row()), RUN_TS).collect()[0].asDict()
    assert row["total_tokenX_amount_initial_deposit"] == 0.0
    assert row["total_tokenY_amount_initial_deposit"] == 0.0
    assert row["MostRecentDepositTime"] is None


def test_empty_fees_and_bins_defaults(spark):
    """main.py:159-170, 227-250: empty fee/bin lists → '()' packed strings
    and zero totals (not NULL)."""
    pairs = spark.createDataFrame([(USER, POOL)], "user_address string, pool_address string")
    row = build_snapshot(pairs, _empty_inputs(spark, _pool_row()), RUN_TS).collect()[0].asDict()
    assert row["fees_per_bin(bin_id: token_x, token_y_amounts)"] == "()"
    assert row["bin_distribution(bin id: token_x_amount, token_y_amounts)"] == "()"
    assert row["accrued_fees_token_x"] == 0.0 and row["accrued_fees_token_y"] == 0.0
    assert row["token_x_amount"] == 0.0 and row["token_y_amount"] == 0.0
    # derived metrics flow from the zeros, not from NULL propagation
    assert row["total_token_value(USD)"] == 0.0
    assert row["impermanent_loss(USD)"] == 0.0


def test_zero_liquidity_scrubs_to_null(spark):
    """main.py:266-286: /0 → inf → scrub; engine yields NULL (SURVEY §2C.2)."""
    pairs = spark.createDataFrame([(USER, POOL)], "user_address string, pool_address string")
    row = build_snapshot(
        pairs, _empty_inputs(spark, _pool_row(liquidity=0.0)), RUN_TS
    ).collect()[0].asDict()
    for c in ("user_%_of_pool_liquidity", "APR%", "APY%", "APR_1d%"):
        assert row[c] is None or (isinstance(row[c], float) and math.isnan(row[c])), c


def test_missing_api_columns_tolerated(spark):
    """main.py:81-83, 342-343: fields missing from the API payload read as
    NULL through the source's declared schema, and the snapshot keeps all
    46 columns (the reference drops them: a documented deviation)."""
    from traderjoe_etl_spark.sources.rest import quarantine, rest_snapshot_source

    depth = ("liquidityDepthMinus", "liquidityDepthPlus", "liquidityDepthTokenX", "liquidityDepthTokenY")
    payload = {k: v for k, v in _pool_row().items() if k not in depth}
    keys = spark.createDataFrame([(POOL,)], "k_pool string")
    fetched = rest_snapshot_source(
        keys, "fixture://pools/{k_pool}", POOL_STATS_SCHEMA, fetcher=lambda url, params: [payload]
    )
    pools_1d = quarantine(fetched)[0].drop("k_pool")
    inputs = _empty_inputs(spark, _pool_row())
    inputs = SnapshotInputs(pools_1d, inputs.pools_1h, inputs.history, inputs.fees, inputs.bins)
    pairs = spark.createDataFrame([(USER, POOL)], "user_address string, pool_address string")
    out = build_snapshot(pairs, inputs, RUN_TS)
    assert out.columns == SNAPSHOT_ORDER
    rows = out.collect()
    assert len(rows) == 1
    nulls = ("liquidityDepth-2%(USD)", "liquidityDepth+2%(USD)", "liquidityDepth+2%TokenX", "liquidityDepth-2%TokenY")
    assert {c: rows[0][c] for c in nulls} == dict.fromkeys(nulls)
    assert rows[0]["pool_name"] == "TOKX-TOKY"


@pytest.mark.parametrize("strict_repr", [False, True])
def test_snapshot_carries_the_declared_schema(spark, strict_repr):
    """Both render modes emit SNAPSHOT_SCHEMA: names, order and types
    (nullability is not part of the contract)."""
    pairs, inputs = _fixture_inputs(spark)
    got = build_snapshot(pairs, inputs, RUN_TS, strict_repr=strict_repr).schema
    assert [(f.name, f.dataType) for f in got] == [(f.name, f.dataType) for f in SNAPSHOT_SCHEMA]


def test_run_stamp_past_2038_appends_to_an_earlier_store(spark, tmp_path):
    """The run stamp is a bigint whatever the hour: a snapshot taken after
    2038-01-19T03:14:08Z (2^31 s) appends to a store created before it, and
    both hours read back."""
    from traderjoe_etl_spark.sinks import append_snapshot, read_snapshots

    pairs, inputs = _fixture_inputs(spark)
    store = str(tmp_path / "store")
    hours = [datetime(2038, 1, 19, 2, tzinfo=timezone.utc), datetime(2038, 1, 19, 4, tzinfo=timezone.utc)]
    assert int(hours[0].timestamp()) < 2**31 <= int(hours[1].timestamp())
    for ts in hours:
        append_snapshot(build_snapshot(pairs, inputs, ts), store)
    got = read_snapshots(spark, store).select("current_unix_timestamp", "user_address").collect()
    assert sorted(tuple(r) for r in got) == [(int(ts.timestamp()), USER) for ts in hours]


def test_strict_mode_golden_csv(spark, tmp_path):
    """Full strict-parity byte-golden: Python-repr packed strings,
    exported through the pandas CSV sink (the reference's own to_csv path,
    main.py:345-351), compared byte-for-byte against a row hand-computed
    from the reference's arithmetic (main.py:130-286). With a single pool,
    the address joins give the bytes the reference's pool_name merge
    (main.py:182-183) gives."""
    import pandas as pd

    from traderjoe_etl_spark.sinks import csv_export

    inputs = SnapshotInputs(
        pools_1d=spark.createDataFrame([_pool_row()], POOL_STATS_SCHEMA),
        pools_1h=spark.createDataFrame(
            [{**_pool_row(), "volumeUsd": 42.0, "feesUsd": 1.5}], POOL_STATS_SCHEMA
        ),
        history=spark.createDataFrame(_history_rows(), USER_HISTORY_SCHEMA),
        fees=spark.createDataFrame(_fees_rows(), FEES_EARNED_SCHEMA),
        bins=spark.createDataFrame(_bins_rows(), BINS_RESERVE_SCHEMA),
    )
    pairs = spark.createDataFrame([(USER, POOL)], "user_address string, pool_address string")
    df = build_snapshot(pairs, inputs, RUN_TS, strict_repr=True)
    out = str(tmp_path / "merged_data.csv")
    csv_export(df, out)

    # hand-computed expectations (reference formulas, pure Python floats)
    liq, fees_1d = 1000.0, 10.0
    dep_x, dep_y = 2.5 + 4.0, 3.0 + 0.0          # argmax block 200, ts tie summed
    tok_x, tok_y = 4.0 + 1.0, 1.0 + 0.0          # pro-rata, decimal-scaled
    fx, fy = 1.5 + 0.5, 0.75 + 0.25
    vih = dep_x * 2.0 + dep_y * 0.5
    total = 2.0 * tok_x + 0.5 * tok_y
    expected = {
        "current_unix_timestamp": int(RUN_TS.timestamp()),
        "timestamp(datetime_pst)": "2026-01-01 12:00:00",
        "pool_name": "TOKX-TOKY",
        "pool_address": POOL,
        "pool[volume](1h)": 42.0,
        "pool[liquidity]": liq,
        "pool[total_fees(USD)](1h)": 1.5,
        "lbBinStep": 25,
        "base_fee%": 0.1,
        "max_fee%": 1.0,
        "protocol_fee%": 5.0,
        "token_x_symbol": "TOKX",
        "token_y_symbol": "TOKY",
        "token_x_address": "0xtx",
        "token_y_address": "0xty",
        "pool[token_x_amount]": 1111.0,
        "pool[token_y_amount]": 2222.0,
        "token_x_price": 2.0,
        "token_y_price": 0.5,
        "activeBinId": 8388608,
        "liquidityDepth+2%TokenX": 50.0,
        "liquidityDepth-2%TokenY": 60.0,
        "liquidityDepth+2%(USD)": 120.0,
        "liquidityDepth-2%(USD)": 100.0,
        "user_address": USER,
        "total_tokenX_amount_initial_deposit": dep_x,
        "total_tokenY_amount_initial_deposit": dep_y,
        "MostRecentDepositTime": "2025-12-02 00:10:00",
        "token_x_amount": tok_x,
        "token_y_amount": tok_y,
        "token_x(USD)": 2.0 * tok_x,
        "token_y(USD)": 0.5 * tok_y,
        "bin_distribution(bin id: token_x_amount, token_y_amounts)": "(10: 4.0, 1.0; 11: 1.0, 0.0)",
        "total_token_value(USD)": total,
        "accrued_fees_token_x": fx,
        "accrued_fees_token_y": fy,
        "accrued_fees_token_x(USD)": fx * 2.0,
        "accrued_fees_token_y(USD)": fy * 0.5,
        "fees_per_bin(bin_id: token_x, token_y_amounts)": "(3: 1.5, 0.75; 9: 0.5, 0.25)",
        "value_if_held(USD)": vih,
        "impermanent_loss(USD)": vih - total,
        "user_%_of_pool_liquidity": total / liq * 100,
        "fees_annual": fees_1d * 365,
        "APR%": fees_1d * 365 / liq * 100,
        "APY%": ((1 + fees_1d / liq) ** 365 - 1) * 100,
        "APR_1d%": fees_1d / liq * 100,
    }
    want = pd.DataFrame([expected])[SNAPSHOT_ORDER].to_csv(index=False)
    with open(out, encoding="utf-8") as f:
        assert f.read() == want


def test_pool_name_join_collision_gate(spark):
    """Two pools sharing a display name: the address joins keep the pairs
    independent, while the reference's merge on ``pool_name``
    (main.py:182-183, transcribed in pandas below) cross-multiplies them —
    the reason for the deviation (SURVEY §2C.5)."""
    import pandas as pd

    pool_b = _pool_row(pair="0xpoolB", name="TOKX-TOKY")  # same name as POOL
    inputs = SnapshotInputs(
        pools_1d=spark.createDataFrame([_pool_row(), pool_b], POOL_STATS_SCHEMA),
        pools_1h=spark.createDataFrame([_pool_row(), pool_b], POOL_STATS_SCHEMA),
        history=spark.createDataFrame(_history_rows(), USER_HISTORY_SCHEMA),
        fees=spark.createDataFrame(_fees_rows(), FEES_EARNED_SCHEMA),
        bins=spark.createDataFrame([], BINS_RESERVE_SCHEMA),
    )
    pairs = spark.createDataFrame(
        [(USER, POOL), (USER, "0xpoolB")], "user_address string, pool_address string"
    )
    rows = {r["pool_address"]: r.asDict() for r in build_snapshot(pairs, inputs, RUN_TS).collect()}
    assert len(rows) == 2
    # poolB has no history of its own → zero deposits under address joins
    assert rows["0xpoolB"]["total_tokenX_amount_initial_deposit"] == 0.0
    deposit = rows[POOL]["total_tokenX_amount_initial_deposit"]
    assert deposit == 6.5

    # The reference: each summary carries the pool_name stamped from
    # df_pools (main.py:138, 176), and the merge keys on that name.
    pools = pd.DataFrame({"pool_address": [POOL, "0xpoolB"], "pool_name": ["TOKX-TOKY"] * 2})
    history = pd.DataFrame(
        {"user_address": [USER], "pool_address": [POOL], "total_tokenX_amount_initial_deposit": [deposit]}
    ).merge(pools, on="pool_address")
    merged = (
        pd.DataFrame({"user_address": [USER, USER], "pool_address": [POOL, "0xpoolB"]})
        .merge(pools, on="pool_address")
        .merge(history.drop(columns="pool_address"), on=["user_address", "pool_name"], how="left")
    )
    # name collision: poolA's history bleeds into poolB
    by_name = merged.set_index("pool_address")["total_tokenX_amount_initial_deposit"]
    assert by_name["0xpoolB"] == by_name[POOL] == 6.5


def test_pipeline_observability_metrics(spark):
    """df.observe(): pipeline-run metrics (row count, scrub rate) come
    back WITH the action — no second pass over the data, the engine form
    of a pipeline run report."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from traderjoe_etl_spark.sources.tables import read_table

    events = read_table(spark, "/root/testdata/sf0.001", "events")
    obs = Observation("run_metrics")
    observed = events.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.col("value").isNull()).alias("null_values"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )
    out = observed.filter(F.col("value") > 0).count()
    got = obs.get
    assert got["n_rows"] >= out and got["n_rows"] == events.count()
    assert got["null_values"] == 0
    assert got["total_value"] > 0


def test_cli_run_and_query(spark, tmp_path, capsys):
    """python -m traderjoe_etl_spark: run appends a snapshot batch to the
    partitioned sink; query executes any registered name; list prints the
    registry."""
    from traderjoe_etl_spark.__main__ import main

    out = str(tmp_path / "snapshots")
    rc = main(["run", "--sf-dir", "/root/testdata/sf0.001", "--out", out])
    assert rc == 0
    assert spark.read.parquet(out).count() > 0

    assert main(["query", "pricing_summary", "--sf-dir", "/root/testdata/sf0.001"]) == 0
    assert main(["query", "no_such_query", "--sf-dir", "x"]) == 2
    assert main(["list"]) == 0
    assert "pricing_summary" in capsys.readouterr().out
