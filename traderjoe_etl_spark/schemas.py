"""Explicit StructTypes for the five reference source payloads and the
46-column snapshot contract.

Derived field-by-field from the reference (FIXTURES.md §A):
- pool_stats:   projection maps at main.py:54-79 (1d) and main.py:93-96 (1h)
- user_history: extraction loop at main.py:108-120
- fees_earned:  extraction loop at main.py:162-165
- bins_reserve: ABI ``PopulatedBinUser`` helperContractABI.json:229-260,
  consumed at main.py:231-242 (uint128/uint256 → DecimalType(38,0); the
  reference itself drops to float64 at main.py:232-233, so Decimal is the
  *more* faithful raw representation — SURVEY.md §7.4.1)
- snapshot:     the fixed output order at main.py:293-340

Schema philosophy (SURVEY.md §1.3): sources get explicit schemas and
PERMISSIVE reads (missing → NULL); the reference's "keep whichever columns
exist" behavior is reproduced by plans/traderjoe.py::build_snapshot.
"""

from __future__ import annotations

from pyspark.sql import types as T


def _token_struct() -> T.StructType:
    return T.StructType(
        [
            T.StructField("address", T.StringType()),
            T.StructField("symbol", T.StringType()),
            T.StructField("decimals", T.IntegerType()),
            T.StructField("priceUsd", T.DoubleType()),
        ]
    )


POOL_STATS_SCHEMA = T.StructType(
    [
        T.StructField("pairAddress", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("volumeUsd", T.DoubleType()),
        T.StructField("liquidityUsd", T.DoubleType()),
        T.StructField("feesUsd", T.DoubleType()),
        T.StructField("tokenX", _token_struct()),
        T.StructField("tokenY", _token_struct()),
        T.StructField("reserveX", T.DoubleType()),
        T.StructField("reserveY", T.DoubleType()),
        T.StructField("lbBinStep", T.IntegerType()),
        T.StructField("lbBaseFeePct", T.DoubleType()),
        T.StructField("lbMaxFeePct", T.DoubleType()),
        T.StructField("protocolSharePct", T.DoubleType()),
        T.StructField("activeBinId", T.IntegerType()),
        T.StructField("liquidityDepthMinus", T.DoubleType()),
        T.StructField("liquidityDepthPlus", T.DoubleType()),
        T.StructField("liquidityDepthTokenX", T.DoubleType()),
        T.StructField("liquidityDepthTokenY", T.DoubleType()),
    ]
)


def _amount_struct() -> T.StructType:
    # amounts/prices arrive string-or-double from the API; StringType +
    # lenient_cast reproduces float(entry.get(...)) at main.py:115-118.
    return T.StructType(
        [
            T.StructField("amount", T.StringType()),
            T.StructField("price", T.StringType()),
        ]
    )


USER_HISTORY_SCHEMA = T.StructType(
    [
        T.StructField("user_address", T.StringType()),  # pair key (driver loop main.py:11-12)
        T.StructField("timestamp", T.StringType()),  # ISO-8601 → to_timestamp (main.py:124)
        T.StructField("isDeposit", T.BooleanType()),
        T.StructField("poolAddress", T.StringType()),
        T.StructField("pairName", T.StringType()),
        T.StructField("binId", T.IntegerType()),
        T.StructField("tokenX", _amount_struct()),
        T.StructField("tokenY", _amount_struct()),
        T.StructField("blockNumber", T.LongType()),
    ]
)


FEES_EARNED_SCHEMA = T.StructType(
    [
        T.StructField("user_address", T.StringType()),
        T.StructField("poolAddress", T.StringType()),
        T.StructField("binId", T.IntegerType()),
        T.StructField("accruedFeesX", T.StringType()),  # float(get(...,0)) main.py:164-165
        T.StructField("accruedFeesY", T.StringType()),
    ]
)


BINS_RESERVE_SCHEMA = T.StructType(
    [
        T.StructField("user_address", T.StringType()),
        T.StructField("poolAddress", T.StringType()),
        T.StructField("binId", T.IntegerType()),  # uint24 (ABI :236)
        T.StructField("reserveX", T.DecimalType(38, 0)),  # uint128 (ABI :240-246)
        T.StructField("reserveY", T.DecimalType(38, 0)),
        T.StructField("shares", T.DecimalType(38, 0)),  # uint256 (ABI :250-255)
        T.StructField("totalShares", T.DecimalType(38, 0)),
    ]
)


# The reference's fixed output order (main.py:293-340), '1h'/'1d' suffixes
# resolved per main.py:46, 85. Emission is existence-tolerant
# (build_snapshot drops absent pool columns ≡ main.py:342-343).
SNAPSHOT_ORDER = [
    "current_unix_timestamp",
    "timestamp(datetime_pst)",
    "pool_name",
    "pool_address",
    "pool[volume](1h)",
    "pool[liquidity]",
    "pool[total_fees(USD)](1h)",
    "lbBinStep",
    "base_fee%",
    "max_fee%",
    "protocol_fee%",
    "token_x_symbol",
    "token_y_symbol",
    "token_x_address",
    "token_y_address",
    "pool[token_x_amount]",
    "pool[token_y_amount]",
    "token_x_price",
    "token_y_price",
    "activeBinId",
    "liquidityDepth+2%TokenX",
    "liquidityDepth-2%TokenY",
    "liquidityDepth+2%(USD)",
    "liquidityDepth-2%(USD)",
    "user_address",
    "total_tokenX_amount_initial_deposit",
    "total_tokenY_amount_initial_deposit",
    "MostRecentDepositTime",
    "token_x_amount",
    "token_y_amount",
    "token_x(USD)",
    "token_y(USD)",
    "bin_distribution(bin id: token_x_amount, token_y_amounts)",
    "total_token_value(USD)",
    "accrued_fees_token_x",
    "accrued_fees_token_y",
    "accrued_fees_token_x(USD)",
    "accrued_fees_token_y(USD)",
    "fees_per_bin(bin_id: token_x, token_y_amounts)",
    "value_if_held(USD)",
    "impermanent_loss(USD)",
    "user_%_of_pool_liquidity",
    "fees_annual",
    "APR%",
    "APY%",
    "APR_1d%",
]
