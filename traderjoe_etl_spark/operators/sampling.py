"""Deterministic, engine-portable sampling (SURVEY.md §2B ◆ north-star:
training-data pipelines need reproducible subsets).

``df.sample()`` draws from a per-partition RNG stream: resplitting the
input (a different file layout, AQE coalescing, a cluster resize) changes
WHICH rows are kept, so yesterday's 1% sample cannot be reproduced and an
engine migration silently changes the training set. Hash sampling fixes
membership to the KEY: a row is in the p-sample iff

    substr(md5(seed || ':' || key), 1, 8) < hex(floor(p * 2^32))

which is a pure map-side filter — no shuffle, no state, no RNG — and any
engine with md5 (Spark, DuckDB, Trino, BigQuery, plain Python) computes the
same membership bit. Fixed-width lowercase hex compares lexicographically
exactly as the 32-bit integer it encodes, so no hex→int conversion is
needed on engines that lack one.

Properties at 100 TB: the filter pushes into the scan stage (no exchange);
sample-of-sample nests (p then q keeps a deterministic p·q subset when the
same seed is used, because the condition is a prefix-threshold on one hash);
and joining two tables each hash-sampled on the SAME join key keeps the
join consistent (both sides keep the same keys) — the standard trick for
sampling star schemas coherently.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HASH_BITS = 32
_SPAN = 1 << HASH_BITS

# Keep-rate of a stratum ``stratified_hash_sample`` is given no rate for.
UNLISTED_STRATUM_RATE = 0.05
# ``sqrt_temperature_mix``: rate_s = min(1, MIX_SCALE / sqrt(N_s)), drawn
# under its own hash seed so its membership is independent of other samples.
MIX_SCALE = 2.0
MIX_SEED = "mix"


def rate_threshold_hex(rate: float) -> str:
    """Fixed-width lowercase hex threshold for a keep-rate in [0, 1]."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0,1], got {rate}")
    return format(min(int(rate * _SPAN), _SPAN - 1) if rate < 1.0 else _SPAN - 1, "08x")


def sample_bucket(key: Column | str, seed: str = "42") -> Column:
    """The 8-hex-char bucket string a key falls in (uniform on [0, 2^32));
    the samplers below use the default seed."""
    c = F.col(key) if isinstance(key, str) else key
    return F.substring(F.md5(F.concat(F.lit(seed), F.lit(":"), c.cast("string"))), 1, 8)


def hash_sample(df: DataFrame, key: str, rate: float) -> DataFrame:
    """Keep a deterministic ``rate`` fraction of rows, keyed on ``key``.

    Map-only: the predicate is a scalar expression on the key column, so it
    fuses into the scan stage (and with parquet bloom/dictionary filters
    upstream of it when the key is also a filter column)."""
    return df.filter(sample_bucket(key) < F.lit(rate_threshold_hex(rate)))


def stratified_hash_sample(
    df: DataFrame,
    key: str,
    strata: str,
    rates: dict[str, float],
) -> DataFrame:
    """Per-stratum deterministic rates (e.g. downsample the dominant
    language, keep all of a rare one). Still map-only: the per-row
    threshold is a CASE over the strata column, no shuffle and no
    per-stratum pass. Unlisted strata keep ``UNLISTED_STRATUM_RATE``."""
    thr: Column = F.lit(rate_threshold_hex(UNLISTED_STRATUM_RATE))
    for value, rate in rates.items():
        thr = F.when(F.col(strata) == value, F.lit(rate_threshold_hex(rate))).otherwise(thr)
    return df.filter(sample_bucket(key) < thr)


def runtime_rate_threshold_hex(rate: Column) -> Column:
    """``rate_threshold_hex`` for a rate computed AT RUNTIME from data (a
    Column), e.g. per-group rates derived from group counts. Same fixed-
    width lowercase hex encoding; the 2^32-1 clamp handles rate == 1.0
    (whose floor would need 9 hex digits and lpad would corrupt it)."""
    ticks = F.least(F.floor(rate * F.lit(4294967296.0)).cast("bigint"), F.lit(4294967295))
    return F.lpad(F.lower(F.hex(ticks)), 8, "0")


def sqrt_temperature_mix(df: DataFrame, group_col: str, key: str) -> DataFrame:
    """Temperature-style source rebalancing at α = 0.5: keep each row of
    group s with probability  rate_s = min(1, MIX_SCALE / sqrt(N_s)) — large
    sources are flattened ∝ N^0.5 while rare sources are kept whole, the
    standard multilingual/multi-source pretraining mix.

    α = 0.5 is chosen deliberately: sqrt is IEEE-754 correctly-rounded on
    every engine, so rate_s (one sqrt + one divide over an exact integer
    count) is BIT-IDENTICAL in Spark, DuckDB, Trino … and the sampled set
    is engine-portable, unlike a pow()-based rate whose libm last-ulp
    differences can flip membership at the threshold. General-α mixing is
    a one-line change but loses that guarantee.

    Plan: one partial-agg groupBy for the counts (|groups| rows),
    broadcast back onto the scan, then the same map-side hash filter as
    ``hash_sample`` — no shuffle of kept rows, no RNG, reproducible."""
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n"))
    rate = F.least(F.lit(1.0), F.lit(MIX_SCALE) / F.sqrt(F.col("__n").cast("double")))
    rated = counts.select(group_col, runtime_rate_threshold_hex(rate).alias("__thr"))
    return (
        df.join(F.broadcast(rated), group_col)
        .filter(sample_bucket(key, MIX_SEED) < F.col("__thr"))
        .drop("__thr")
    )


def weighted_sample_key(key: Column | str, weight: Column) -> Column:
    """Efraimidis–Spirakis weighted-reservoir sort key: ``u^(1/w)`` with a
    deterministic hash-uniform ``u`` in (0, 1). Taking the k LARGEST keys
    per group draws a without-replacement sample where P(selection) is
    proportional to ``weight`` — the quality-weighted corpus-selection
    primitive ("sample 1M docs, better docs more often") — and because u
    is a pure function of the key, the SAME rows are selected under
    any partitioning, engine, or re-run.

    Map-only; combine with a per-group window top-k (the k-heap rides
    WindowGroupLimit before the exchange) or a global top-k. Weights must
    be > 0; rows with NULL/<=0 weight get key NULL and sort last."""
    c = F.col(key) if isinstance(key, str) else key
    # u = (bucket + 1) / (2^32 + 1)  — strictly inside (0, 1) so ln/pow are finite
    u = (
        F.conv(sample_bucket(c), 16, 10).cast("double") + F.lit(1.0)
    ) / F.lit(float(_SPAN + 1))
    return F.when(weight > 0, F.pow(u, F.lit(1.0) / weight))
