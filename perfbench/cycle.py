"""``snapshot_cycle``: the reference's hourly job, one cycle per operation.

A cycle fetches pool stats (1d and 1h), deposit history and fees through
``sources.rest.rest_snapshot_source`` and bin reserves through
``sources.rpc.rpc_bins_source``, quarantines the pairs whose fetch failed,
builds the 46-column snapshot with ``plans.traderjoe.build_snapshot``
(``strict_repr=True``) and appends it with ``sinks.append_snapshot`` to a
store owned by the run. Each cycle advances ``run_ts`` by one hour, which
changes every payload.

Untraced, the cycle is the plain lazy pipeline a user would write: one
append job that pulls the sources through the plan. Traced, each layer's
output is materialized before the next span starts (sources, then
``build_snapshot``, then execution to a noop sink, then the append), so
the spans' self times tile the cycle's wall time.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta, timezone
from statistics import median

from pyspark import StorageLevel
from pyspark.sql import functions as F

from traderjoe_etl_spark.plans.traderjoe import PAIR_KEYS, SnapshotInputs, build_snapshot
from traderjoe_etl_spark.schemas import (
    FEES_EARNED_SCHEMA,
    POOL_STATS_SCHEMA,
    SNAPSHOT_ORDER,
    USER_HISTORY_SCHEMA,
)
from traderjoe_etl_spark.sinks import append_snapshot, read_snapshots
from traderjoe_etl_spark.sources.rest import quarantine, rest_snapshot_source
from traderjoe_etl_spark.sources.rpc import rpc_bins_source

from checks import CHECKED_TOTALS, check_cycle
from fixtures import RestFixture, RpcFixture, expected_cycle_totals, make_universe

BASE_TS = datetime(2026, 1, 1, tzinfo=timezone.utc)


def store_files(path: str) -> tuple[int, int]:
    """(parquet file count, total bytes) under ``path``."""
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def _materialize(df):
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    return df


class SnapshotCycle:
    """One operation = one hourly cycle over every (user, pool) pair."""

    def __init__(self, spark, seed: int, workdir: str, tracer):
        self.spark = spark
        self.tracer = tracer
        self.universe = make_universe(seed)
        self.store = os.path.join(workdir, "snapshots")
        sc = spark.sparkContext
        self.rest_calls = sc.accumulator(0)
        self.rpc_calls = sc.accumulator(0)
        self.cycles: dict[int, int] = {}  # measured cycle -> op id
        self.next_cycle = 1  # cycle 0 is the warm-up
        self.layer: dict[str, list[float]] = {
            k: [] for k in ("rest_calls", "rpc_calls", "useful_call_ratio", "quarantined_pairs",
                            "files_per_append", "bytes_per_row")
        }
        self.quarantine_ratio = 0.0

    @property
    def items_per_op(self) -> int:
        return len(self.universe.pairs)

    def setup(self) -> None:
        # Warm-up: one full, untraced cycle into a store of its own. It
        # starts the Python workers and compiles every plan shape. (A cycle
        # over a tenth of the pairs costs nearly as much and warms less.)
        with self.tracer.paused():
            self._run(self.store + "-warmup", 0, -1)

    # --- one cycle --------------------------------------------------------

    def _fetch(self, cycle: int, mat):
        spark, u = self.spark, self.universe
        fetch = RestFixture(u, cycle, self.rest_calls)
        call = RpcFixture(u, cycle, self.rpc_calls)
        pairs = spark.createDataFrame(list(u.pairs), "user_address string, pool_address string")
        pool_keys = spark.createDataFrame([(p,) for p in u.pools], "k_pool string")
        # rest_snapshot_source appends row fields after the key columns, and
        # the history/fees schemas carry user_address themselves: alias keys.
        pair_keys = pairs.select(
            F.col("user_address").alias("k_user"), F.col("pool_address").alias("k_pool")
        )
        raw = {
            "pools_1d": rest_snapshot_source(
                pool_keys, "bench://pools/{k_pool}/1d", POOL_STATS_SCHEMA, fetcher=fetch
            ),
            "pools_1h": rest_snapshot_source(
                pool_keys, "bench://pools/{k_pool}/1h", POOL_STATS_SCHEMA, fetcher=fetch
            ),
            "history": rest_snapshot_source(
                pair_keys, "bench://history/{k_user}/{k_pool}", USER_HISTORY_SCHEMA, fetcher=fetch
            ),
            "fees": rest_snapshot_source(
                pair_keys, "bench://fees/{k_user}/{k_pool}", FEES_EARNED_SCHEMA, fetcher=fetch
            ),
        }
        raw = {k: mat(v) for k, v in raw.items()}
        active = quarantine(raw["pools_1d"])[0].select(
            F.col("pairAddress").alias("pool_address"), "activeBinId"
        )
        bin_keys = pairs.join(active, "pool_address").select(
            "user_address", F.col("pool_address").alias("poolAddress"), "activeBinId"
        )
        raw["bins"] = mat(rpc_bins_source(bin_keys, call))
        return pairs, raw

    @staticmethod
    def _inputs(pairs, raw):
        ok = {k: quarantine(v)[0] for k, v in raw.items()}
        failed = [
            quarantine(raw["history"])[1].select(F.col("k_user").alias("user_address"), F.col("k_pool").alias("pool_address")),
            quarantine(raw["fees"])[1].select(F.col("k_user").alias("user_address"), F.col("k_pool").alias("pool_address")),
            quarantine(raw["bins"])[1].select("user_address", F.col("poolAddress").alias("pool_address")),
        ]
        bad = failed[0].unionByName(failed[1]).unionByName(failed[2]).distinct()
        healthy = pairs.join(bad, PAIR_KEYS, "left_anti")
        inputs = SnapshotInputs(
            pools_1d=ok["pools_1d"].drop("k_pool"),
            pools_1h=ok["pools_1h"].drop("k_pool"),
            history=ok["history"].drop("k_user", "k_pool"),
            fees=ok["fees"].drop("k_user", "k_pool"),
            bins=ok["bins"],
        )
        return healthy, inputs, bad

    def op(self, op_id: int, kind: int = 0) -> None:
        cycle = self.next_cycle
        self.next_cycle += 1
        self.cycles[cycle] = op_id
        self._run(self.store, cycle, op_id)

    def _run(self, store: str, cycle: int, op_id: int) -> None:
        u = self.universe
        run_ts = BASE_TS + timedelta(hours=cycle)
        tr = self.tracer
        if not tr.enabled:
            # Call counts come from the plain pipeline: the traced one
            # materializes each source once, which hides recomputation.
            rest0, rpc0 = self.rest_calls.value, self.rpc_calls.value
            pairs, raw = self._fetch(cycle, lambda df: df)
            healthy, inputs, _ = self._inputs(pairs, raw)
            append_snapshot(build_snapshot(healthy, inputs, run_ts, strict_repr=True), store)
            rest, rpc = self.rest_calls.value - rest0, self.rpc_calls.value - rpc0
            self.layer["rest_calls"].append(rest)
            self.layer["rpc_calls"].append(rpc)
            distinct_keys = 2 * len(u.pools) + 3 * len(u.pairs)
            self.layer["useful_call_ratio"].append(distinct_keys / (rest + rpc))
            return
        files0, bytes0 = store_files(store)
        with tr.span("sources", op_id):
            pairs, raw = self._fetch(cycle, _materialize)
            healthy, inputs, bad = self._inputs(pairs, raw)
            n_bad = bad.count()
        with tr.span("plans.build_snapshot", op_id):
            snap = build_snapshot(healthy, inputs, run_ts, strict_repr=True)
        with tr.span("plans.execute", op_id):
            snap = snap.persist(StorageLevel.MEMORY_AND_DISK)
            snap.write.format("noop").mode("overwrite").save()
        with tr.span("sinks.append_snapshot", op_id):
            append_snapshot(snap, store)
        files, size = store_files(store)
        self.layer["quarantined_pairs"].append(n_bad)
        self.layer["files_per_append"].append(files - files0)
        self.layer["bytes_per_row"].append((size - bytes0) / (len(u.pairs) - n_bad))

    # --- checks and metrics -----------------------------------------------

    def check(self) -> tuple[set[int], list[str]]:
        """Check every appended cycle; return (failed op ids, messages)."""
        with self.tracer.span("sinks.read_snapshots", -1):
            df = read_snapshots(self.spark, self.store)
        columns = [c for c in df.columns if c != "snapshot_date"]
        rows = df.select("current_unix_timestamp", *PAIR_KEYS, *[F.col(f"`{c}`") for c in CHECKED_TOTALS]).toPandas()
        u = self.universe
        healthy = set(u.healthy_pairs())
        failed, msgs, ratios = set(), [], []
        for cycle, op_id in self.cycles.items():
            ts = int((BASE_TS + timedelta(hours=cycle)).timestamp())
            got = rows[rows["current_unix_timestamp"] == ts]
            errors = check_cycle(columns, got, healthy, expected_cycle_totals(u, cycle), SNAPSHOT_ORDER)
            ratios.append((len(u.pairs) - len(got)) / len(u.pairs))
            if errors:
                failed.add(op_id)
                msgs.extend(f"cycle {cycle}: {e}" for e in errors)
        self.quarantine_ratio = median(ratios)
        if self.quarantine_ratio != u.fault_share:
            msgs.append(f"quarantined_pair_ratio {self.quarantine_ratio} != injected {u.fault_share}")
            failed.update(self.cycles.values())
        return failed, msgs

    def summary(self) -> dict:
        return {
            "quarantined_pair_ratio": (self.quarantine_ratio, "ratio"),
            "injected_fault_share": (self.universe.fault_share, "ratio"),
        }

    def per_layer(self) -> dict[str, float]:
        tr = self.tracer
        med = lambda k: median(self.layer[k]) if self.layer[k] else 0.0  # noqa: E731
        n_files, _ = store_files(self.store)
        return {
            "sources.rest_calls": med("rest_calls"),
            "sources.rpc_calls": med("rpc_calls"),
            "sources.useful_call_ratio": med("useful_call_ratio"),
            "sources.fetch_s": tr.median_of("sources"),
            "sources.quarantined_pairs": med("quarantined_pairs"),
            "plans.build_snapshot_s": tr.median_of("plans.build_snapshot"),
            "plans.execute_s": tr.median_of("plans.execute"),
            "plans.stages": tr.median_of("plans.execute", "stages"),
            "plans.tasks": tr.median_of("plans.execute", "tasks"),
            "sinks.append_snapshot_s": tr.median_of("sinks.append_snapshot"),
            "sinks.read_snapshots_s": tr.median_of("sinks.read_snapshots"),
            "sinks.files_per_append": med("files_per_append"),
            "sinks.bytes_per_row": med("bytes_per_row"),
            "sinks.store_files": n_files,
        }
