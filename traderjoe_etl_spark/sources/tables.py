"""Parquet table readers for the synthetic star schema.

The driver test data (``/root/testdata/sf*/``) ships ten tables; schemas are
pinned in FIXTURES.md §B. Reads go straight through ``spark.read.parquet`` so
Catalyst gets predicate pushdown + column pruning for free — do NOT add
``.cache()`` or eager materialization here; the scan must stay lazy so each
query prunes to exactly the columns/row groups it needs (at 100 TB the scan
IS the cost).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Columns stored as parquet TIMESTAMP(NANOS): Spark reads them as nanosecond
# longs (spark.sql.legacy.parquet.nanosAsLong, set in session.RUNTIME_CONFS)
# and we convert to TimestampType at microsecond precision — identical to how
# DuckDB reads the same file, so oracles align.
NANOS_TS_COLS = {"events": ("ts",)}


# Inferred schema per (sf_dir, table) — the metastore role. Parquet schema
# inference lists + footer-reads at plan-build time (~0.1 s/table/query);
# pinning the schema on re-reads skips that. Keyed by path so different SF
# dirs never share entries; within one path the schema is immutable for the
# life of the process (driver test data is static).
_SCHEMA_CACHE: dict[tuple[str, str], object] = {}


def _parquet_files(sf_dir: str, name: str) -> list[str]:
    """The parquet files of one table: its sorted part files when it is a
    directory, ``[path]`` when it is one file, ``[]`` when it is missing.
    os.walk: a PARTITIONED layout nests part files under key=value dirs —
    a top-level listdir would read it as 0 bytes / unchanged after
    regeneration (ADVICE r7)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(path):
        return sorted(
            os.path.join(root, f)
            for root, _, files in os.walk(path)
            for f in files
            if f.endswith(".parquet")
        )
    return [path] if os.path.exists(path) else []


def table_bytes(sf_dir: str, name: str) -> int:
    """On-disk parquet size of one table — the cheap cardinality statistic
    queries use to pick between physical strategies (e.g. broadcast-probe
    vs per-key pre-aggregation), exactly as a cost-based optimizer would
    read table stats from a metastore. Returns 0 when unknown (missing
    path → callers fall through to the conservative at-scale plan)."""
    try:
        return sum(os.path.getsize(f) for f in _parquet_files(sf_dir, name))
    except OSError:
        return 0


def table_ncols(sf_dir: str, name: str) -> int:
    """Column count of one table from its parquet footer — the second
    CBO-role stat (beside ``table_bytes``) behind ``gated_broadcast``'s size
    estimate: the build side's column FRACTION is derived live from
    ``len(df.columns) / table_ncols(...)`` instead of a hand-maintained
    factor, so a call site that later widens its projection automatically
    widens the gate's byte estimate (ADVICE r9: a stale hand factor would
    silently under-size the gate). One footer read per (sf_dir, table) per
    process. Returns 0 when unknown (missing path / unreadable footer) —
    callers must then fall back to the conservative fraction 1.0."""
    key = (os.path.abspath(sf_dir), f"__ncols__{name}")
    hit = _SCHEMA_CACHE.get(key)
    if hit is not None:
        return hit  # type: ignore[return-value]
    n = 0
    try:
        import pyarrow.parquet as pq

        files = _parquet_files(sf_dir, name)
        if files:
            n = len(pq.read_schema(files[0]).names)
    except Exception:
        n = 0
    if n:  # don't cache a miss — the dir may be generated later in-process
        _SCHEMA_CACHE[key] = n
    return n


def table_rows(sf_dir: str, name: str) -> int:
    """Exact row count of one table from its parquet FOOTERS (pyarrow
    metadata — no Spark job, no data pages read): the third CBO-role stat
    beside ``table_bytes``/``table_ncols``. Callers use it as a driver-
    side cardinality bound where a Spark count/approx_count_distinct job
    would otherwise run at plan-construction time (e.g. sizing a Bloom
    filter: an upper bound only makes the bitmap larger/less lossy, never
    wrong). Cached per (sf_dir, table) with the same immutable-path rule
    as the schema cache. Returns 0 when unknown (missing path/unreadable
    footer) — callers fall back to their measured-count path."""
    key = (os.path.abspath(sf_dir), f"__nrows__{name}")
    hit = _SCHEMA_CACHE.get(key)
    if hit is not None:
        return hit  # type: ignore[return-value]
    n = 0
    try:
        import pyarrow.parquet as pq

        n = sum(pq.ParquetFile(f).metadata.num_rows for f in _parquet_files(sf_dir, name))
    except Exception:
        n = 0
    if n:  # don't cache a miss — the dir may be generated later in-process
        _SCHEMA_CACHE[key] = n
    return n


def corpus_width(
    sf_dir: str,
    name: str,
    bytes_per_part: int = 2 << 20,
    selectivity: float = 1.0,
) -> int:
    """Shuffle/repartition width that FOLLOWS THE DATA — the shared formula
    behind every corpus-scaled reduce-side repartition (Q16's distinct,
    pagerank's edge dedup, the sparse-cosine postings join). At or below the
    session default (32) the repartition IS the operation's own exchange;
    at 160 GB the same 32 partitions would put ~5 GB through each reducer,
    so width must scale with table bytes. Clamped to [32, 1024]: the floor
    keeps small-SF plans at the session width (no extra exchange cost), the
    ceiling bounds task-scheduling overhead (at true 100 TB a cluster's
    AQE coalescing governs instead — these queries only PIN width in
    local mode's static planning).

    ``selectivity`` scales the byte estimate when the repartitioned
    relation is a filtered slice of the table (e.g. pagerank's one-year
    edge input ~ 1/7 of lineitem) — an overestimate is harmless (more,
    smaller reducers) but drifts the width away from the data it actually
    carries (ADVICE r8)."""
    return max(32, min(1024, int(table_bytes(sf_dir, name) * selectivity) // bytes_per_part))


def table_fingerprint(sf_dir: str, name: str) -> str:
    """Cheap staleness fingerprint of one table: total bytes + max mtime
    (ns) over its parquet files. Caches that pin collected DATA (not plan
    handles, which re-scan files on every execution) must key on this so
    a regenerated table under the same path — benchdata/* is gitignored
    and routinely rebuilt — invalidates instead of silently serving stale
    values. A directory without part files reads ``"0:0"``."""
    files = _parquet_files(sf_dir, name)
    if not files and not os.path.isdir(os.path.join(sf_dir, f"{name}.parquet")):
        return "absent"
    try:
        sts = [os.stat(f) for f in files]
    except OSError:
        return "absent"
    return f"{sum(st.st_size for st in sts)}:{max((st.st_mtime_ns for st in sts), default=0)}"


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan of one synthetic table. Sets no conf: it expects a
    session under ``session.RUNTIME_CONFS`` (a registry entry or
    ``get_spark``), whose timestamp reading modes make timestamp[us]
    columns TimestampType and TIMESTAMP(NANOS) columns longs."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = (sf_dir, name)
    cached = _SCHEMA_CACHE.get(key)
    if cached is not None:
        df = spark.read.schema(cached).parquet(path)
    else:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
    for col in NANOS_TS_COLS.get(name, ()):
        if col in df.columns and dict(df.dtypes)[col] == "bigint":
            # integer division: `/` would widen the ~1.7e18 nanos long to
            # double (ulp 256 ns) and truncate wrongly for ~1.5% of values;
            # DuckDB truncates exactly, so parity requires `div`.
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    return df

