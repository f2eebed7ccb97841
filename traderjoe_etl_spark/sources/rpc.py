"""Distributed RPC source for on-chain bin reserves.

The reference makes one blocking ``getBinsReserveOf`` call per pair on the
driver thread (main.py:203-219, ABI helperContractABI.json:194-264). The
engine calls per pair on executors via ``mapInPandas``, with the bin-window
pushdown (activeBinId ± N, main.py:213-214) as adapter options. It is
eager and fetch-once like ``sources.rest``: one call per key at call time,
pinned by a local checkpoint. Fetch parallelism equals the key relation's
partition count; a lost executor fails the job reading the pinned rows,
and the next hourly cycle fetches again.

The RPC client is injected; the default web3 client is gated behind an
import-try (web3 is not a dependency), so tests use fixture callers
through the identical executor-side code path.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from decimal import Decimal

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..schemas import BINS_RESERVE_SCHEMA

# caller(pool_address, user_address, active_bin_id, ids_plus, ids_minus)
#   -> list[(bin_id, reserveX, reserveY, shares, totalShares)]
BinsCaller = Callable[[str, str, int, int, int], list]


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


def rpc_bins_source(
    keys_df: DataFrame,
    caller: BinsCaller,
    ids_plus: int = 1000,
    ids_minus: int = 1000,
) -> DataFrame:
    """Fetch per-(user, pool) bin reserves on executors, once per key, now.

    ``keys_df`` columns: user_address, poolAddress, activeBinId. The bin
    window (± ids) is the source-level pushdown (main.py:213-214). Output:
    BINS_RESERVE_SCHEMA rows + _fetch_error (NULL on success); failed pairs
    quarantine instead of aborting (main.py:13-17 semantics).
    """
    out_schema = T.StructType([*BINS_RESERVE_SCHEMA.fields, T.StructField("_fetch_error", T.StringType())])

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for key in pdf.to_dict("records"):
                user, pool = key["user_address"], key["poolAddress"]
                try:
                    bins = caller(pool, user, int(key["activeBinId"]), ids_plus, ids_minus)
                    err = None
                except Exception as exc:
                    bins, err = [], f"{type(exc).__name__}: {exc}"
                if not bins:
                    bins = [(None, None, None, None, None)] if err else []
                for bin_id, rx, ry, sh, tsh in bins:
                    rows.append(
                        {
                            "user_address": user,
                            "poolAddress": pool,
                            "binId": bin_id,
                            "reserveX": None if rx is None else Decimal(int(rx)),
                            "reserveY": None if ry is None else Decimal(int(ry)),
                            "shares": None if sh is None else Decimal(int(sh)),
                            "totalShares": None if tsh is None else Decimal(int(tsh)),
                            "_fetch_error": err,
                        }
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    return keys_df.mapInPandas(run, schema=out_schema).localCheckpoint(eager=True)
