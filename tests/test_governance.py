"""Training-data governance ops: decontamination, temperature mix, splits."""

from __future__ import annotations

from pyspark.sql import functions as F

from traderjoe_etl_spark.operators.contamination import (
    contamination_report,
    ngram_hashes,
    tokens,
)
from traderjoe_etl_spark.operators.sampling import sample_bucket, sqrt_temperature_mix
from traderjoe_etl_spark.sources.tables import read_table


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_verbatim_benchmark_copy_is_flagged(spark):
    """A train doc containing a benchmark doc verbatim must be flagged with
    every benchmark n-gram counted once; an unrelated doc must not."""
    bench = _df(spark, [(1, "alpha beta gamma delta epsilon zeta")], "id long, text string")
    train = _df(
        spark,
        [
            (10, "prefix words alpha beta gamma delta epsilon zeta suffix"),
            (11, "totally different content with no overlap at all here"),
        ],
        "id long, text string",
    )
    out = {
        r["id"]: r["n_shared_ngrams"]
        for r in contamination_report(train, bench, "text", "id").collect()
    }
    assert 11 not in out
    assert out[10] == 3  # 6-word benchmark doc has 3 distinct 4-grams


def _token_hashes(text_col: str):
    return F.transform(tokens(text_col), lambda t: F.xxhash64(t))


def test_short_docs_produce_no_ngrams(spark):
    df = _df(spark, [(1, "one two three")], "id long, text string")
    out = df.select(F.size(ngram_hashes(_token_hashes("text"), 4)).alias("n")).collect()
    assert out[0]["n"] == 0


def test_case_and_whitespace_normalization(spark):
    """Contamination must be case- and spacing-insensitive: same words in
    different case/spacing yield identical n-gram hashes."""
    a = _df(spark, [(1, "  Alpha   BETA gamma  DELTA ")], "id long, text string")
    b = _df(spark, [(2, "alpha beta gamma delta")], "id long, text string")
    ha = a.select(F.explode(ngram_hashes(_token_hashes("text"), 4)).alias("h"))
    hb = b.select(F.explode(ngram_hashes(_token_hashes("text"), 4)).alias("h"))
    assert {r["h"] for r in ha.collect()} == {r["h"] for r in hb.collect()}


def test_temperature_mix_keeps_rare_groups_whole(spark, sf_dir):
    """With rate = min(1, 2/sqrt(N)), any group of <= 4 rows has rate 1.0
    and survives intact; large groups shrink toward ~2*sqrt(N) kept."""
    docs = read_table(spark, sf_dir, "documents")
    tiny = docs.limit(3).withColumn("source", F.lit("rare_source"))
    mixed = sqrt_temperature_mix(tiny, "source", "doc_id")
    assert mixed.count() == 3

    kept = sqrt_temperature_mix(docs, "source", "doc_id")
    n, k = docs.count(), kept.count()
    assert 0 < k < n


def test_temperature_mix_membership_partition_independent(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    a = {r[0] for r in sqrt_temperature_mix(docs.repartition(1), "source", "doc_id").select("doc_id").collect()}
    b = {r[0] for r in sqrt_temperature_mix(docs.repartition(7), "source", "doc_id").select("doc_id").collect()}
    assert a == b and a


def test_split_membership_stable_under_corpus_growth(spark, sf_dir):
    """A document's train/val/test bucket depends only on its id: the
    assignment computed over half the corpus equals the assignment over
    the full corpus, restricted to the shared ids (the property RNG- or
    position-based splits lack)."""
    docs = read_table(spark, sf_dir, "documents")
    bucket = sample_bucket("doc_id", seed="split")
    split = (
        F.when(bucket < "cccccccc", F.lit("train"))
        .when(bucket < "e6666666", F.lit("val"))
        .otherwise(F.lit("test"))
    )
    full = {r["doc_id"]: r["s"] for r in docs.select("doc_id", split.alias("s")).collect()}
    half = {
        r["doc_id"]: r["s"]
        for r in docs.filter(F.col("doc_id") < 250).select("doc_id", split.alias("s")).collect()
    }
    assert half and all(full[k] == v for k, v in half.items())
