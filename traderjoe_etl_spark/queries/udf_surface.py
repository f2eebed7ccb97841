"""UDF/UDAF/UDTF surface as oracle-checked driver queries (SURVEY.md §2B)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import read_table
from . import query


@query(
    "udtf_token_explode",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS ts
        FROM documents
    )
    SELECT doc_id,
           CAST(len(ts) AS BIGINT)                AS n_tokens,
           CAST(len(list_distinct(ts)) AS BIGINT) AS n_distinct,
           CAST(len(ts) - 1 AS INT)               AS max_pos
    FROM toks
    WHERE len(ts) > 0
    """,
)
def udtf_token_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table-valued function) via SQL LATERAL: each document
    row expands to one row per token, re-aggregated per doc so the oracle
    can check the expansion exactly (token count, distinct count, last
    ordinal)."""
    from ..functions.udtfs import register_udtfs

    register_udtfs(spark)
    read_table(spark, sf_dir, "documents").createOrReplaceTempView("__docs_udtf")
    return spark.sql(
        """
        SELECT d.doc_id,
               count(*)                 AS n_tokens,
               count(DISTINCT t.token)  AS n_distinct,
               max(t.pos)               AS max_pos
        FROM __docs_udtf d, LATERAL tokenize_spans(d.text) t
        GROUP BY d.doc_id
        """
    )


@query(
    "mad_by_event_type",
    oracle="""
    SELECT event_type,
           round(median(abs(value - m)), 6) AS mad_value
    FROM (SELECT event_type, value,
                 median(value) OVER (PARTITION BY event_type) AS m
          FROM events)
    GROUP BY event_type
    """,
)
def mad_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-agg pandas UDAF (median absolute deviation) — the UDAF leg
    of the §2B UDF surface; checked against DuckDB's windowed-median
    formulation of the same statistic. (Spark disallows mixing pandas and
    built-in aggregates in one ``agg``, so the UDAF stands alone here.)"""
    from ..functions.udfs import median_abs_deviation

    events = read_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.round(median_abs_deviation(F.col("value")), 6).alias("mad_value"),
    )
