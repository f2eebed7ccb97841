"""Query registry backing the driver contract (``__spark_entry__.py``).

Each engine operator from SURVEY.md §2B ships as a named query: a callable
``(spark, sf_dir) -> DataFrame`` plus (where SQL-expressible) an equivalent
ANSI-SQL oracle string for DuckDB. Registration is decorator-based so each
category module stays self-contained.

Runtime confs: ``@query`` registers (and returns) a wrapper that applies
``session.apply_runtime_confs`` to the caller's session once, at entry,
then builds the query, so a vanilla session such as the driver's runs every
query under the engine's confs (UTC, nanos-as-long parquet reads,
local-mode split and shuffle sizing). Query bodies set no conf themselves
and read their base tables with the one reader, ``sources.tables.read_table``.

Oracle-parity rules (SURVEY.md §5.1, driver contract):
- alias every computed column IDENTICALLY in Spark and SQL;
- round double aggregates on BOTH sides (float sums are order-dependent
  across engines; rounding far above the ~1e-9 relative error makes the
  value hash stable);
- render timestamps as formatted strings (Spark session TZ pinned to UTC =
  DuckDB's naive-UTC);
- deterministic result SETS: every top-k/argmax query orders by a unique
  tie-breaker.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..session import apply_runtime_confs
from ..sources.tables import read_table


@dataclass(frozen=True)
class QueryDef:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    # sf_dir -> True when the oracle is valid AT THAT SCALE. Queries whose
    # engine side switches regime with corpus size (e.g. approx_percentiles'
    # exact-regime sketch accuracy below a byte gate) register the SAME
    # predicate here so a sweep at a bigger sf_dir degrades to rows-only
    # instead of reporting a false FAIL. None → oracle valid everywhere.
    oracle_gate: Callable[[str], bool] | None = None


REGISTRY: dict[str, QueryDef] = {}


def query(
    name: str,
    oracle: str | None = None,
    oracle_gate: Callable[[str], bool] | None = None,
):
    """Register an engine query (decorator). The registered and returned
    callable pins the session's runtime confs, then builds the query."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        @functools.wraps(fn)
        def pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
            apply_runtime_confs(spark)
            return fn(spark, sf_dir)

        REGISTRY[name] = QueryDef(name, pinned, oracle, oracle_gate)
        return pinned

    return deco


def _views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register the testdata tables as temp views for spark.sql queries."""
    for n in names:
        read_table(spark, sf_dir, n).createOrReplaceTempView(n)


def load_all() -> None:
    """Import every query module (idempotent)."""
    from . import (  # noqa: F401
        advanced_ops,
        behavior_ops,
        corpus_ops,
        coverage_extras,
        curation_extras,
        data_governance,
        final_coverage,
        graph_ops,
        llm_ops,
        market_ops,
        pipeline_queries,
        quality_stats,
        reference_semantics,
        relational,
        retrieval,
        scale_ops,
        sql_surface_extras,
        stateful_queries,
        stats_ml_ops,
        subquery_shapes,
        tpch_shapes,
        text_analysis,
        training_prep,
        udf_surface,
        windows_scalars,
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    load_all()
    return {name: qd.fn for name, qd in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    load_all()
    return {name: qd.oracle for name, qd in REGISTRY.items() if qd.oracle is not None}


def oracle_gates() -> dict[str, Callable[[str], bool]]:
    """Per-query scale-validity predicates for the oracles (see QueryDef).
    The round driver always differentials at sf0.01 where every gate
    passes; tools/oracle_sweep.py consults these for arbitrary sf_dirs."""
    load_all()
    return {
        name: qd.oracle_gate for name, qd in REGISTRY.items() if qd.oracle_gate is not None
    }
