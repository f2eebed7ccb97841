"""Oracle-differential tests — the primary gate (SURVEY.md §5.1).

Mirrors the driver: every query with an oracle must match DuckDB at sf0.01
on row count + schema + order-insensitive values; oracle-less queries must
at least run and return a stable schema.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from tests.oracle_harness import compare, duckdb_conn

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb_conn(sf_dir)
    yield con
    con.close()


def test_registry_is_the_round_contract():
    """The registry is the contract ``__spark_entry__`` exposes; its size
    is pinned so a change to a module it imports cannot silently grow or
    drop a query or an oracle."""
    assert len(QUERIES) == 222
    assert len(ORACLES) == 216
    assert set(ORACLES) <= set(QUERIES)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert df.columns


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_match(spark, sf_dir, duck, name):
    spark_df = QUERIES[name](spark, sf_dir)
    oracle_df = duck.execute(ORACLES[name]).df()
    problems = compare(spark_df, oracle_df)
    assert not problems, f"{name}: " + " | ".join(problems)


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_runs(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    assert df.columns
    df.limit(5).collect()  # plan executes


def _is_atomic(dt) -> bool:
    # The driver canonicalizer feeds every column into pandas
    # sort_values then hashes values, so each cell must be a hashable
    # scalar. Arrays/structs/maps become numpy arrays / dicts →
    # ``TypeError: unhashable type`` (the r4 embedding_pca_project
    # failure). Binary is fine: ``bytes`` is hashable and ordered.
    from pyspark.sql import types as T

    return isinstance(
        dt,
        (
            T.StringType,
            T.BooleanType,
            T.DateType,
            T.BinaryType,
            T.NumericType,
            T.TimestampType,
            T.TimestampNTZType,
        ),
    )


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_output_schema_is_driver_canonicalizable(spark, sf_smoke, name):
    """Every registered query must emit only atomic columns — the driver
    canonicalizer (pandas sort_values + value hash) cannot handle
    array/struct/map cells. Regression gate for the r4
    embedding_pca_project red row (VERDICT r4 item 2)."""
    df = QUERIES[name](spark, sf_smoke)
    offenders = [
        f"{f.name}: {f.dataType.simpleString()}"
        for f in df.schema.fields
        if not _is_atomic(f.dataType)
    ]
    assert not offenders, (
        f"{name} emits non-atomic driver-unhashable columns: {offenders}"
    )


def test_bad_sf_dir_raises_cleanly(spark):
    """A wrong sf_dir must fail fast with PATH_NOT_FOUND, never hang or
    return an empty frame."""
    import pytest
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        QUERIES["pricing_summary"](spark, "/nonexistent_sf_dir").collect()


def test_non_utc_session_still_matches(spark, sf_dir):
    """A session preconfigured with a non-UTC timezone must still produce
    oracle-consistent timestamps: apply_runtime_confs pins UTC on every
    query entry."""
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        out = QUERIES["orders_by_month"](spark, sf_dir).limit(3).collect()
        assert out  # ran; TZ pinned back to UTC inside the query
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_runtime_confs_pinned(spark):
    """The conf surface queries rely on must survive apply_runtime_confs:
    timestamp reading/writing modes and the session time zone."""
    from traderjoe_etl_spark.session import RUNTIME_CONFS, apply_runtime_confs

    apply_runtime_confs(spark)
    for key in (
        "spark.sql.parquet.inferTimestampNTZ.enabled",
        "spark.sql.parquet.outputTimestampType",
        "spark.sql.session.timeZone",
    ):
        assert spark.conf.get(key) == RUNTIME_CONFS[key]


def test_query_entry_pins_runtime_confs(spark):
    """``@query`` is where a registry entry gets its confs: the registered
    callable applies them once, at entry, before the body runs."""
    from traderjoe_etl_spark.queries import REGISTRY, query

    seen = {}

    @query("__conf_probe__")
    def probe(s, sf_dir):
        seen["tz"] = s.conf.get("spark.sql.session.timeZone")
        return s.range(1)

    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        REGISTRY["__conf_probe__"].fn(spark, "unused")
        assert seen["tz"] == "UTC"
    finally:
        REGISTRY.pop("__conf_probe__", None)
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_read_table_sets_no_conf(spark, sf_smoke):
    """The table reader leaves the caller's confs as they are."""
    from traderjoe_etl_spark.session import RUNTIME_CONFS
    from traderjoe_etl_spark.sources.tables import read_table

    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    spark.conf.set(key, "true")
    try:
        read_table(spark, sf_smoke, "region")  # no timestamp columns
        assert spark.conf.get(key) == "true"
    finally:
        spark.conf.set(key, RUNTIME_CONFS[key])


def test_runtime_conf_policy_has_one_home():
    """Pure ``ast``: ``apply_runtime_confs`` is called only in session.py
    and in ``query``'s wrapper, and no other package module sets a conf
    the policy sets (``RUNTIME_CONFS`` and the local-mode sizing)."""
    import ast
    import glob

    from traderjoe_etl_spark.session import RUNTIME_CONFS

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(repo, "traderjoe_etl_spark")

    def parse(rel):
        with open(os.path.join(pkg, rel)) as f:
            return ast.parse(f.read())

    def calls(node, name):
        return [
            c for c in ast.walk(node)
            if isinstance(c, ast.Call)
            and getattr(c.func, "id", getattr(c.func, "attr", None)) == name
        ]

    def conf_set_keys(node):
        return {
            c.args[0].value for c in calls(node, "set")
            if isinstance(c.func, ast.Attribute) and ast.unparse(c.func.value).endswith(".conf")
            and c.args and isinstance(c.args[0], ast.Constant)
        }

    def top(tree, name):
        return next(n for n in tree.body if getattr(n, "name", "") == name)

    policy = set(RUNTIME_CONFS) | conf_set_keys(top(parse("session.py"), "apply_runtime_confs"))
    assert "spark.sql.shuffle.partitions" in policy

    assert len(calls(top(parse("queries/__init__.py"), "query"), "apply_runtime_confs")) == 1
    offenders = []
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, pkg)
        if rel == "session.py":
            continue
        tree = parse(rel)
        n = len(calls(tree, "apply_runtime_confs"))
        n -= rel == os.path.join("queries", "__init__.py")  # the wrapper, checked above
        offenders += [f"{rel}: apply_runtime_confs"] * n
        offenders += [f"{rel}: conf.set({k!r})" for k in sorted(conf_set_keys(tree) & policy)]
    assert offenders == []
