"""Explicit StructTypes for the five reference source payloads and the
46-column snapshot contract.

Derived field-by-field from the reference (FIXTURES.md §A):
- pool_stats:   projection maps at main.py:54-79 (1d) and main.py:93-96 (1h)
- user_history: extraction loop at main.py:108-120
- fees_earned:  extraction loop at main.py:162-165
- bins_reserve: ABI ``PopulatedBinUser`` helperContractABI.json:229-260,
  consumed at main.py:231-242 (uint128/uint256 → double, as the reference
  converts them at main.py:232-233; a uint256 can exceed DecimalType(38,0)
  — SURVEY.md §7.4.1)
- snapshot:     the fixed output order at main.py:293-340

Schema philosophy (SURVEY.md §1.3): sources read every payload into its
declared schema, so an absent API field arrives as NULL; the snapshot
always has all 46 columns of ``SNAPSHOT_SCHEMA`` (the reference instead
drops a column whose field is absent, main.py:81-83, 342-343).
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
        # uint128 reserves (ABI :240-246) and uint256 shares (ABI :250-255)
        # as doubles, like the reference (main.py:232-233): a uint256 can
        # exceed DECIMAL(38, 0)
        T.StructField("reserveX", T.DoubleType()),
        T.StructField("reserveY", T.DoubleType()),
        T.StructField("shares", T.DoubleType()),
        T.StructField("totalShares", T.DoubleType()),
    ]
)


# The reference's fixed output row (main.py:293-340), '1h'/'1d' suffixes
# resolved per main.py:46, 85: build_snapshot's output and the snapshot
# store's table. A change to the store's schema is made here.
SNAPSHOT_SCHEMA = T.StructType(
    [
        T.StructField("current_unix_timestamp", T.LongType()),
        T.StructField("timestamp(datetime_pst)", T.StringType()),
        T.StructField("pool_name", T.StringType()),
        T.StructField("pool_address", T.StringType()),
        T.StructField("pool[volume](1h)", T.DoubleType()),
        T.StructField("pool[liquidity]", T.DoubleType()),
        T.StructField("pool[total_fees(USD)](1h)", T.DoubleType()),
        T.StructField("lbBinStep", T.IntegerType()),
        T.StructField("base_fee%", T.DoubleType()),
        T.StructField("max_fee%", T.DoubleType()),
        T.StructField("protocol_fee%", T.DoubleType()),
        T.StructField("token_x_symbol", T.StringType()),
        T.StructField("token_y_symbol", T.StringType()),
        T.StructField("token_x_address", T.StringType()),
        T.StructField("token_y_address", T.StringType()),
        T.StructField("pool[token_x_amount]", T.DoubleType()),
        T.StructField("pool[token_y_amount]", T.DoubleType()),
        T.StructField("token_x_price", T.DoubleType()),
        T.StructField("token_y_price", T.DoubleType()),
        T.StructField("activeBinId", T.IntegerType()),
        T.StructField("liquidityDepth+2%TokenX", T.DoubleType()),
        T.StructField("liquidityDepth-2%TokenY", T.DoubleType()),
        T.StructField("liquidityDepth+2%(USD)", T.DoubleType()),
        T.StructField("liquidityDepth-2%(USD)", T.DoubleType()),
        T.StructField("user_address", T.StringType()),
        T.StructField("total_tokenX_amount_initial_deposit", T.DoubleType()),
        T.StructField("total_tokenY_amount_initial_deposit", T.DoubleType()),
        T.StructField("MostRecentDepositTime", T.StringType()),
        T.StructField("token_x_amount", T.DoubleType()),
        T.StructField("token_y_amount", T.DoubleType()),
        T.StructField("token_x(USD)", T.DoubleType()),
        T.StructField("token_y(USD)", T.DoubleType()),
        T.StructField("bin_distribution(bin id: token_x_amount, token_y_amounts)", T.StringType()),
        T.StructField("total_token_value(USD)", T.DoubleType()),
        T.StructField("accrued_fees_token_x", T.DoubleType()),
        T.StructField("accrued_fees_token_y", T.DoubleType()),
        T.StructField("accrued_fees_token_x(USD)", T.DoubleType()),
        T.StructField("accrued_fees_token_y(USD)", T.DoubleType()),
        T.StructField("fees_per_bin(bin_id: token_x, token_y_amounts)", T.StringType()),
        T.StructField("value_if_held(USD)", T.DoubleType()),
        T.StructField("impermanent_loss(USD)", T.DoubleType()),
        T.StructField("user_%_of_pool_liquidity", T.DoubleType()),
        T.StructField("fees_annual", T.DoubleType()),
        T.StructField("APR%", T.DoubleType()),
        T.StructField("APY%", T.DoubleType()),
        T.StructField("APR_1d%", T.DoubleType()),
    ]
)
SNAPSHOT_ORDER = SNAPSHOT_SCHEMA.fieldNames()
