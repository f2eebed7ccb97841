"""Existence-tolerant projection and renaming.

The reference's schema system is dynamic: it keeps whichever of a fixed set
of columns the API happened to return, renaming as it goes
(main.py:81-83, 98-100) and ordering the final output by a fixed list
filtered to existing columns (main.py:342-343). Nested JSON is flattened to
dot-path columns with ``pd.json_normalize`` (main.py:52, 91).

Spark schemas are static per-DataFrame, so "tolerant" here means: consult
``df.columns`` (driver-side metadata, free) and build the select list from
what exists.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame


def project_rename(df: DataFrame, mapping: Mapping[str, str], tolerate_missing: bool = True) -> DataFrame:
    """Select + rename columns per ``mapping`` (src → dst), skipping absent
    sources when ``tolerate_missing`` (reference main.py:81-83).

    Dot-path sources (``tokenX.address``) resolve into struct fields, so this
    also covers the json_normalize flattening (main.py:52).
    """
    exprs = []
    top_level = set(df.columns)
    for src, dst in mapping.items():
        root = src.split(".", 1)[0]
        if root in top_level:
            # single selectExpr call (vs one composed Column + alias per
            # mapping entry): a 25-column rename is 1 py4j round trip
            path = ".".join(f"`{p}`" for p in src.split("."))
            exprs.append(f"{path} AS `{dst}`")
        elif not tolerate_missing:
            raise KeyError(f"column {src!r} not found in {df.columns}")
    return df.selectExpr(*exprs)


def reorder_existing(df: DataFrame, desired_order: Sequence[str]) -> DataFrame:
    """Final fixed-order projection keeping only existing columns
    (reference main.py:342-343)."""
    return df.select(*[c for c in desired_order if c in df.columns])
