"""Skew mitigation: an explicitly salted join.

AQE's skew-join splitting (`spark.sql.adaptive.skewJoin.enabled`, on by
default in session.RUNTIME_CONFS) handles most skew at runtime.
``salted_join`` covers the case AQE can't: N-way key salting for a shuffle
join where ONE hot key dominates (AQE splits oversized partitions, but a
single key that hashes to one partition can still exceed memory on the
build side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: N, the shuffle partitions one hot key spreads over.
SALT_BUCKETS = 8


def salted_join(big: DataFrame, small: DataFrame, key: str) -> DataFrame:
    """Inner equi-join with the big side salted and the small side replicated.

    big gets ``salt = pmod(hash(whole row), N)`` with N = ``SALT_BUCKETS``
    (deterministic, so tests are stable); small is exploded ×N. The join
    key becomes (key, salt): a
    hot key now spreads over N shuffle partitions. Cost: small side ×N
    (only viable when small is genuinely small — which is also when the
    skew hurts most). An outer-preserved small side would emit its
    unmatched rows once per salt replica, so the join is inner.
    """
    salted_big = big.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(SALT_BUCKETS)).cast("int")
    )
    replicated_small = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(SALT_BUCKETS - 1)))
    )
    out = salted_big.join(replicated_small, [key, "__salt"], "inner")
    return out.drop("__salt")

