"""Seeded stand-ins for the REST API and the RPC node.

Every payload is a pure function of ``(seed, key, cycle)``: the same seed
gives byte-identical responses in any process, a different seed gives
different ones, and each hourly cycle moves prices, fees and reserves.
Each call sleeps for a modeled round trip and bumps a Spark accumulator,
so call counts are measured where the calls happen (on the executors).

A deterministic fault set of ``n_pairs // 100`` pair keys fails: each
faulty pair raises on exactly one of its three per-pair endpoints
(history, fees or bins), so the program's quarantine has to union the
failures of all three sources to find them.
"""

from __future__ import annotations

import hashlib
import random
import time
from dataclasses import dataclass, field

N_POOLS = 50
N_PAIRS = 500  # a quarter of the 2 000 first sized: keeps each run inside the budget
EVENTS_PER_PAIR = 5
BINS_PER_PAIR = 20
RTT_S = 0.001
FAULT_SHARE_DENOM = 100  # 1 in 100 pair keys fails
FAULT_ENDPOINTS = ("history", "fees", "bins")

ACTIVE_BIN_BASE = 8_388_608  # 2**23, the LB "price = 1" bin
SYMBOLS = ["AVAX", "USDC", "WETH", "BTCB", "JOE", "USDT", "LINK", "DAI", "sAVAX", "GMX"]
DECIMALS = {"USDC": 6, "USDT": 6, "BTCB": 8}


def _digest(*parts: object) -> int:
    h = hashlib.blake2b("|".join(map(str, parts)).encode(), digest_size=8)
    return int.from_bytes(h.digest(), "little")


def rng(*parts: object) -> random.Random:
    """Independent generator for one (seed, kind, key, cycle) tuple."""
    return random.Random(_digest(*parts))


def address(seed: int, kind: str, i: int) -> str:
    return "0x" + hashlib.blake2b(f"{seed}|{kind}|{i}".encode(), digest_size=20).hexdigest()


@dataclass(frozen=True)
class Universe:
    """The pool set, the (user, pool) pairs and the fault set of one seed."""

    seed: int
    pools: tuple[str, ...]
    pairs: tuple[tuple[str, str], ...]
    faults: dict = field(hash=False)  # (user, pool) -> failing endpoint

    @property
    def fault_share(self) -> float:
        return len(self.faults) / len(self.pairs)

    def healthy_pairs(self) -> list[tuple[str, str]]:
        return [p for p in self.pairs if p not in self.faults]


def make_universe(seed: int, n_pools: int = N_POOLS, n_pairs: int = N_PAIRS) -> Universe:
    pools = tuple(address(seed, "pool", i) for i in range(n_pools))
    per_user = 5
    r = rng(seed, "pairs")
    pairs = []
    for u in range(n_pairs // per_user):
        user = address(seed, "user", u)
        pairs.extend((user, pools[j]) for j in sorted(r.sample(range(n_pools), per_user)))
    ranked = sorted(pairs, key=lambda p: _digest(seed, "fault", *p))
    faulty = ranked[: len(pairs) // FAULT_SHARE_DENOM]
    faults = {p: FAULT_ENDPOINTS[_digest(seed, "fault-ep", *p) % 3] for p in faulty}
    return Universe(seed, pools, tuple(pairs), faults)


# --- payloads -------------------------------------------------------------


def _token(seed: int, pool: str, side: str, cycle: int) -> dict:
    r = rng(seed, "token", pool, side)
    symbol = r.choice(SYMBOLS)
    base_price = 10 ** r.uniform(-1, 3)
    drift = rng(seed, "price", pool, side, cycle).uniform(0.97, 1.03)
    return {
        "address": address(seed, f"token-{side}", _digest(pool) % 10_000),
        "symbol": symbol,
        "decimals": DECIMALS.get(symbol, 18),
        "priceUsd": round(base_price * drift, 6),
    }


def pool_stats(seed: int, pool: str, window: str, cycle: int) -> dict:
    """One POOL_STATS_SCHEMA row for the 1d or 1h window."""
    r = rng(seed, "pool", pool, window, cycle)
    static = rng(seed, "pool-static", pool)
    tx, ty = _token(seed, pool, "x", cycle), _token(seed, pool, "y", cycle)
    liquidity = 10 ** static.uniform(4, 7) * r.uniform(0.95, 1.05)
    volume = liquidity * r.uniform(0.05, 2.0) * (1 / 24 if window == "1h" else 1)
    return {
        "pairAddress": pool,
        "name": f"{tx['symbol']}-{ty['symbol']}",
        "volumeUsd": round(volume, 2),
        "liquidityUsd": round(liquidity, 2),
        "feesUsd": round(volume * 0.003, 4),
        "tokenX": tx,
        "tokenY": ty,
        "reserveX": round(liquidity / 2 / tx["priceUsd"], 6),
        "reserveY": round(liquidity / 2 / ty["priceUsd"], 6),
        "lbBinStep": static.choice([1, 5, 10, 15, 20, 25, 50, 100]),
        "lbBaseFeePct": round(static.uniform(0.01, 0.5), 4),
        "lbMaxFeePct": round(static.uniform(0.5, 5.0), 4),
        "protocolSharePct": float(static.choice([5, 10, 25])),
        "activeBinId": ACTIVE_BIN_BASE + static.randint(-500, 500) + (cycle % 7) - 3,
        "liquidityDepthMinus": round(liquidity * r.uniform(0.01, 0.1), 2),
        "liquidityDepthPlus": round(liquidity * r.uniform(0.01, 0.1), 2),
        "liquidityDepthTokenX": round(r.uniform(1, 1e5), 4),
        "liquidityDepthTokenY": round(r.uniform(1, 1e5), 4),
    }


def history(seed: int, user: str, pool: str, cycle: int) -> list[dict]:
    """EVENTS_PER_PAIR USER_HISTORY_SCHEMA rows (deposits and withdrawals)."""
    r = rng(seed, "history", user, pool, cycle)
    rows = []
    for i in range(EVENTS_PER_PAIR):
        day = r.randint(1, 28)
        rows.append(
            {
                "user_address": user,
                "timestamp": f"2025-11-{day:02d}T{r.randint(0, 23):02d}:{r.randint(0, 59):02d}:00",
                "isDeposit": r.random() < 0.8,
                "poolAddress": pool,
                "pairName": "bench",
                "binId": ACTIVE_BIN_BASE + r.randint(-20, 20),
                "tokenX": {"amount": repr(round(r.uniform(0, 1e4), 6)), "price": "1.0"},
                "tokenY": {"amount": repr(round(r.uniform(0, 1e4), 6)), "price": "1.0"},
                "blockNumber": 40_000_000 + day * 1000 + i,
            }
        )
    return rows


def fees(seed: int, user: str, pool: str, cycle: int) -> list[dict]:
    """BINS_PER_PAIR FEES_EARNED_SCHEMA rows."""
    r = rng(seed, "fees", user, pool, cycle)
    first = ACTIVE_BIN_BASE + r.randint(-100, 100)
    return [
        {
            "user_address": user,
            "poolAddress": pool,
            "binId": first + b,
            "accruedFeesX": repr(round(r.uniform(0, 50) * (1 + cycle / 100), 8)),
            "accruedFeesY": repr(round(r.uniform(0, 50) * (1 + cycle / 100), 8)),
        }
        for b in range(BINS_PER_PAIR)
    ]


def bins(seed: int, user: str, pool: str, active_bin: int, cycle: int) -> list[tuple]:
    """BINS_PER_PAIR ``getBinsReserveOf`` tuples (binId, reserveX, reserveY,
    shares, totalShares) as uint-scale Python ints."""
    r = rng(seed, "bins", user, pool, cycle)
    out = []
    for b in range(BINS_PER_PAIR):
        total = r.randint(10**20, 10**24)
        out.append(
            (
                active_bin - BINS_PER_PAIR // 2 + b,
                r.randint(0, 10**24),
                r.randint(0, 10**24),
                r.randint(0, total),
                total,
            )
        )
    return out


# --- clients ---------------------------------------------------------------


class FetchError(RuntimeError):
    """A modeled HTTP/RPC failure of one faulty pair key."""


class RestFixture:
    """``fetcher(url, params)`` for ``sources.rest.rest_snapshot_source``.

    URLs are ``bench://pools/{pool}/{1d|1h}``, ``bench://history/{user}/{pool}``
    and ``bench://fees/{user}/{pool}``. Pickled to the executors with its
    accumulator, which counts every call made."""

    def __init__(self, universe: Universe, cycle: int, calls, rtt_s: float = RTT_S):
        self.seed = universe.seed
        self.faults = universe.faults
        self.cycle = cycle
        self.calls = calls
        self.rtt_s = rtt_s

    def __call__(self, url: str, params: dict) -> list:
        self.calls.add(1)
        time.sleep(self.rtt_s)
        kind, a, b = url.removeprefix("bench://").split("/")
        if kind == "pools":
            return [pool_stats(self.seed, a, b, self.cycle)]
        if self.faults.get((a, b)) == kind:
            raise FetchError(f"503 from {kind} endpoint for {a}/{b}")
        if kind == "history":
            return history(self.seed, a, b, self.cycle)
        if kind == "fees":
            return fees(self.seed, a, b, self.cycle)
        raise ValueError(f"unknown endpoint {url!r}")


class RpcFixture:
    """``caller(pool, user, active_bin, ids_plus, ids_minus)`` for
    ``sources.rpc.rpc_bins_source``."""

    def __init__(self, universe: Universe, cycle: int, calls, rtt_s: float = RTT_S):
        self.seed = universe.seed
        self.faults = universe.faults
        self.cycle = cycle
        self.calls = calls
        self.rtt_s = rtt_s

    def __call__(self, pool: str, user: str, active_bin: int, plus: int, minus: int) -> list:
        self.calls.add(1)
        time.sleep(self.rtt_s)
        if self.faults.get((user, pool)) == "bins":
            raise FetchError(f"execution reverted for {user}/{pool}")
        return bins(self.seed, user, pool, active_bin, self.cycle)


# --- expected results ------------------------------------------------------


def expected_cycle_totals(universe: Universe, cycle: int) -> dict[str, float]:
    """Per-cycle totals over the healthy pairs, computed from the payloads
    alone, for the three checked snapshot columns."""
    seed = universe.seed
    pools = {p: pool_stats(seed, p, "1d", cycle) for p in universe.pools}
    tot = {"token_x_amount": 0.0, "accrued_fees_token_x": 0.0, "total_token_value(USD)": 0.0}
    for user, pool in universe.healthy_pairs():
        ps = pools[pool]
        dx, dy = ps["tokenX"]["decimals"], ps["tokenY"]["decimals"]
        raw_x = raw_y = 0.0
        for _, rx, ry, sh, tsh in bins(seed, user, pool, ps["activeBinId"], cycle):
            share = float(sh) / float(tsh)
            raw_x += float(rx) * share
            raw_y += float(ry) * share
        tx, ty = raw_x / 10.0**dx, raw_y / 10.0**dy
        tot["token_x_amount"] += tx
        tot["accrued_fees_token_x"] += sum(float(f["accruedFeesX"]) for f in fees(seed, user, pool, cycle))
        tot["total_token_value(USD)"] += ps["tokenX"]["priceUsd"] * tx + ps["tokenY"]["priceUsd"] * ty
    return tot
