"""Distributed RPC source for on-chain bin reserves.

The reference makes one blocking ``getBinsReserveOf`` call per pair on the
driver thread (main.py:203-219, ABI helperContractABI.json:194-264). The
engine calls per pair on executors through ``sources.rest``'s per-key
fetch loop, with the bin-window pushdown (activeBinId ± ``BIN_WINDOW``,
main.py:213-214) in the call. It is eager and fetch-once like
``sources.rest``: one call per key at call time, pinned by a local
checkpoint. Each task overlaps its calls on up to
``sources.rest.FETCH_CONCURRENCY`` threads, so calls in flight against the
node are at most (concurrent tasks × ``FETCH_CONCURRENCY``); a lost
executor fails the job reading the pinned rows, and the next hourly cycle
fetches again.

The RPC client is injected; the default web3 client is gated behind an
import-try (web3 is not a dependency), so tests use fixture callers
through the identical executor-side code path. Callers are called from
several threads at once: one that keeps state must do so thread-safely.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from ..schemas import BINS_RESERVE_SCHEMA
from .rest import _fetch_per_key

# caller(pool_address, user_address, active_bin_id, ids_plus, ids_minus)
#   -> list[(bin_id, reserveX, reserveY, shares, totalShares)]
BinsCaller = Callable[[str, str, int, int, int], list]

# Bins scanned each side of the active bin: the reference's active ± 1000
# (≤ 2001 bins per call, main.py:213-214).
BIN_WINDOW = 1000


def default_web3_caller(rpc_url: str, helper_address: str, abi: list) -> BinsCaller:
    """Build the production caller (reference main.py:203-218). Raises
    ImportError where web3 is unavailable — callers must inject a fixture
    caller in that case."""
    from web3 import Web3  # gated import: not in the baked-in dependency set

    w3 = Web3(Web3.HTTPProvider(rpc_url))
    contract = w3.eth.contract(address=Web3.to_checksum_address(helper_address), abi=abi)

    def call(pool: str, user: str, active_bin: int, plus: int, minus: int) -> list:
        result = contract.functions.getBinsReserveOf(
            Web3.to_checksum_address(pool), user, active_bin, plus, minus
        ).call()
        return result[1]  # PopulatedBinUser[] — main.py:219

    return call


def rpc_bins_source(keys_df: DataFrame, caller: BinsCaller) -> DataFrame:
    """Fetch per-(user, pool) bin reserves on executors, once per key, now.

    ``keys_df`` columns: user_address, poolAddress, activeBinId. The bin
    window (activeBinId ± ``BIN_WINDOW``) is the source-level pushdown
    (main.py:213-214). Output: BINS_RESERVE_SCHEMA rows + _fetch_error
    (NULL on success); failed pairs quarantine instead of aborting
    (main.py:13-17 semantics).

    The uint128 reserves and uint256 shares arrive as doubles, as the
    reference converts them (main.py:232-233): a uint256 can exceed any
    Spark decimal (38 digits), and one such value would fail the
    conversion of the whole batch outside the per-key error capture.
    """

    def num(v):
        return None if v is None else float(int(v))

    def rows(key: dict) -> list:
        active = int(key["activeBinId"])
        bins = caller(key["poolAddress"], key["user_address"], active, BIN_WINDOW, BIN_WINDOW)
        return [
            {"binId": b, "reserveX": num(rx), "reserveY": num(ry), "shares": num(sh), "totalShares": num(tsh)}
            for b, rx, ry, sh, tsh in bins
        ]

    return _fetch_per_key(keys_df, BINS_RESERVE_SCHEMA, rows)
