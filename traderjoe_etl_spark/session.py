"""SparkSession factory tuned for the engine.

Local-mode defaults match the test/bench environment (local[N] single JVM);
on a real cluster the same settings are sane starting points: AQE on for
runtime re-planning (skew joins, partition coalescing), Arrow on for any
pandas-interop path, UTC session timezone so timestamp semantics are stable
across engines (the DuckDB oracle is UTC-naive).

Python workers: every Python task's ``pyspark.worker.main`` calls
``importlib.invalidate_caches()``, and on CPython before 3.13
``zipimporter.invalidate_caches()`` re-reads the whole central directory
of each archive on the worker's ``sys.path`` — ``pyspark.zip`` and its
sub-package importers, the py4j zip and the spark-core jar, 16 importers
with Spark 4.1 on CPython 3.11. That cost ~0.1-0.2 s per task on a 4-vCPU
host before any user code ran: a one-task Python RDD stage on local[2]
took 0.22 s under the stock daemon and 0.11 s without the re-reads. Sessions
from :func:`get_spark` run their workers under ``pyworker``, which
re-reads an archive only when its mtime or size changed; on CPython 3.13+
the call is already lazy and ``pyworker`` leaves ``zipimport`` alone.
Sessions built elsewhere — including the vanilla session the driver
contract (``__spark_entry__``) receives — keep the stock
``pyspark.daemon`` and still pay the re-reads.

Codegen cache: Spark keeps at most ``spark.sql.codegen.cache.maxEntries``
compiled classes (default 100), keyed by their generated source. One
hourly snapshot cycle's plans need more, so each warm cycle evicted and
recompiled classes it had compiled before. :func:`get_spark` sessions keep
1000. The conf is static: vanilla sessions keep 100.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime confs every query should be able to rely on even when the caller
# (e.g. the verification driver) built the session itself. All of these are
# settable on a live session.
RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    # Older driver testdata carried TIMESTAMP(NANOS) which the Spark reader
    # rejects; read as long and convert in sources.tables (DuckDB truncates
    # nanos to micros the same way, so oracle comparisons stay aligned).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Parquet timestamp[us] with isAdjustedToUTC=false would otherwise read
    # as TIMESTAMP_NTZ (Spark 4 default) — NTZ can't cast to numeric and
    # diverges from the UTC TimestampType the whole query surface (and the
    # DuckDB oracle comparison) assumes. Plain TimestampType + UTC session
    # tz is value-identical to DuckDB's naive reading of the same file.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Write timestamps as INT64 micros, not the legacy stats-less INT96:
    # INT96 columns carry no min/max footer stats, so predicate pushdown
    # cannot prune timestamp filters on data WE wrote. Micros also round-trips
    # through DuckDB/pyarrow without the INT96 shim.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # Partitioned catalog tables list their directory on each read instead
    # of holding a partition list in the catalog: the snapshot store
    # (sinks.py) must see date directories that another process appended.
    # The only other catalog tables (save_bucketed) are unpartitioned.
    "spark.sql.hive.manageFilesourcePartitions": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (idempotent)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf not settable on this build — keep going
    # Split sizing is environment-specific: a single local JVM has no
    # network and cheap task dispatch, so smaller splits buy scan
    # parallelism on small/medium files (measured: Q1-shape 1.26 -> 0.77 s
    # at sf0.1, 3.9 -> 2.1 s at sf10 on local[32]). On a cluster the 128 MB
    # default stands — at 100 TB, 32 MB splits would mean 3M tasks/scan.
    if spark.sparkContext.master.startswith("local"):
        spark.conf.set("spark.sql.files.maxPartitionBytes", "32m")
        spark.conf.set("spark.sql.files.openCostInBytes", str(1024 * 1024))
        # Task dispatch is ~5 ms/task even in-process; the stock 200
        # shuffle partitions burn ~1 s/stage in pure scheduling on a
        # 32-core JVM (measured: json_props_stats 1.9 -> 0.7 s at sf10).
        # Size reducers to the actual parallelism. On a cluster, keep the
        # high default and let AQE coalesce instead.
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(spark.sparkContext.defaultParallelism),
        )
        # Single-JVM joins: both sides are already in RAM and partitions
        # are small (32 reducers), so a shuffled hash join skips the two
        # sorts a sort-merge join pays (revenue_by_region sf10: 4.6 ->
        # 3.3 s). On a cluster keep Spark's SMJ preference — SMJ degrades
        # gracefully (spills) when a build side outgrows executor memory.
        spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")
        # A broadcast in a single JVM is one in-process hash relation, not
        # a per-executor network copy — so the 10 MB default is far too
        # shy here. 64 MB lets AQE convert mid-size joins (e.g. the
        # per-order ⋈ orders stage at sf1: 24 MB post-pruning) to
        # map-side BHJ (revenue_by_region sf1: 1.73 → 1.47 s). On a
        # cluster the default stands — broadcast cost there scales with
        # executor count.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    return spark


# The directory holding the traderjoe_etl_spark package.
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def worker_pythonpath(caller_path: str | None) -> str:
    """``PACKAGE_ROOT`` ahead of the caller's worker PYTHONPATH entries."""
    rest = [p for p in (caller_path or "").split(os.pathsep) if p and p != PACKAGE_ROOT]
    return os.pathsep.join([PACKAGE_ROOT, *rest])


def get_spark(app_name: str = "traderjoe_etl_spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS, $SPARK_GRAFT_TASK_ATTEMPTS]``
    (``local[*,4]`` unless overridden) — core count from SPARK_GRAFT_CPUS,
    task attempts (cluster default 4) from SPARK_GRAFT_TASK_ATTEMPTS.
    ``spark.sql.shuffle.partitions`` is sized to the local core count — at
    cluster scale this is instead governed by AQE coalescing from an
    intentionally-high initial value.

    Python workers run under ``traderjoe_etl_spark.pyworker``
    (``spark.python.daemon.module``), which stops the per-task re-read of
    the pyspark, py4j and spark-core zip directories that CPython < 3.13
    does in ``importlib.invalidate_caches()`` (~0.1-0.2 s per task on a
    4-vCPU host; a no-op on 3.13+). The package root goes ahead of the
    workers' PYTHONPATH so the module imports from any working directory
    (on a cluster, executors need the package importable, as the
    package's UDFs, pickled by reference, already do). The daemon module
    is a static conf: a session that already existed when this is
    called, or one built without it, keeps the stock ``pyspark.daemon``
    and the per-task cost. So is the 1000-entry codegen cache.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    # local[N, 4]: restore the CLUSTER default of 4 task attempts. Bare
    # local[N] pins maxTaskFailures to 1 — a fail-fast quirk of local
    # mode, not the execution model this engine targets: on a real
    # cluster a task that hits transient executor pressure (e.g.
    # UNABLE_TO_ACQUIRE_MEMORY while concurrent sorts drain the pool)
    # retries after the contenders release and succeeds. Deterministic
    # failures still fail — four attempts exhaust in seconds.
    retries = int(os.environ.get("SPARK_GRAFT_TASK_ATTEMPTS", "4"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus},{retries}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    # With the default 100 entries a warm snapshot cycle recompiled 20-39
    # evicted codegen classes (0.3-0.67 s on a 4-vCPU host); with 1000 it
    # mostly compiles 2, the classes that inline the cycle's run_ts literal.
    builder = builder.config("spark.sql.codegen.cache.maxEntries", "1000")
    spark = builder.config("spark.python.daemon.module", "traderjoe_etl_spark.pyworker").getOrCreate()
    # The daemon module must import from any working directory. Python
    # workers get their environment from sc.environment, the map the
    # spark.executorEnv.* confs fill, so merging here keeps a PYTHONPATH
    # the caller set through spark-defaults, --conf or the builder.
    env = spark.sparkContext.environment
    env["PYTHONPATH"] = worker_pythonpath(env.get("PYTHONPATH"))
    spark.sparkContext.setLogLevel("WARN")
    return apply_runtime_confs(spark)
