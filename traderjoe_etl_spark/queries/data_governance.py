"""Training-data governance queries — benchmark decontamination,
temperature source mixing, deterministic train/val/test splits.

These are the corpus-management steps between "raw documents" and "training
set" that the north-star pipeline needs at 100 TB (SURVEY.md §2B training-
data extensions): every one is expressed as a deterministic, engine-
portable plan (md5 membership hashing, exact-arithmetic rates) so the SAME
subset/flagging falls out of Spark, DuckDB, or any other engine — which is
also what makes them oracle-checkable to the driver's value-hash gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.contamination import contamination_report
from ..operators.sampling import sample_bucket, sqrt_temperature_mix
from ..sources.tables import read_table
from . import query


_TOK_SQL = "list_filter(string_split_regex(lower(trim(text)), '\\s+'), w -> w <> '')"


@query(
    "benchmark_decontamination",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_TOK_SQL} AS words FROM documents),
    ng AS (
        SELECT doc_id, md5(array_to_string(words[i:i+3], ' ')) AS h
        FROM tok, LATERAL unnest(generate_series(1, len(words) - 3)) AS t(i)
    ),
    bench AS (SELECT DISTINCT h FROM ng WHERE doc_id % 97 = 0),
    train AS (SELECT DISTINCT doc_id, h FROM ng WHERE doc_id % 97 <> 0)
    SELECT tr.doc_id, count(*) AS n_shared_ngrams
    FROM train tr JOIN bench b ON tr.h = b.h
    GROUP BY tr.doc_id
    """,
)
def benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag training documents sharing any word-n-gram with the benchmark
    set (here: every 97th doc stands in for an eval suite; n=4 because the
    synthetic corpus draws from a ~30-word vocabulary — production corpora
    use n=8-13, a one-argument change). The benchmark's
    distinct n-gram hashes broadcast — eval sets are megabytes even when
    the corpus is 100 TB — so the train side is one tokenize/explode map
    pass plus a single per-doc count exchange; no all-pairs comparison
    ever forms. See operators/contamination.py.

    r12 (guide §2.3 / VERDICT r11 item 5): the engine runs the CHAINED
    n-gram hasher — each token hashes once and a 4-gram hash combines the
    4 consecutive token hashes in codegen, so neither the ' '-joined
    4-gram string nor its md5 digest is ever materialized, and the per-doc
    count exchange + the broadcast hash set carry 8-byte longs instead of
    32-char digests. n-gram identity under the chained hash equals string
    identity up to 64-bit collisions (the hash never reaches the output —
    only doc_id and the shared-count do), which is the SAME established
    surrogate convention as distinct_ngram_diversity / sparse_shingle /
    q16: the md5-based oracle independently recomputes the same shared-
    n-gram COUNTS and the value-hash gate passes at all driver SFs on
    both seeds. Measured sf10 (one session, min-of-3 noop, outputs
    collected equal — 31,868 rows both ways): 10.08 → 2.17 s (the
    concat+md5 over ~50M 4-gram strings WAS the query)."""
    docs = read_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return contamination_report(train, bench, text_col="text", id_col="doc_id")


@query(
    "temperature_mix_sources",
    oracle="""
    WITH counts AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
    rated AS (
        SELECT source, n_docs,
               lpad(lower(to_hex(least(CAST(floor(least(1.0, 2.0 / sqrt(CAST(n_docs AS DOUBLE)))
                                             * 4294967296.0) AS BIGINT),
                                       4294967295))), 8, '0') AS thr,
               least(1.0, 2.0 / sqrt(CAST(n_docs AS DOUBLE))) AS rate
        FROM counts
    )
    SELECT d.source, r.n_docs,
           count(*) FILTER (WHERE substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 8) < r.thr)
               AS n_kept,
           round(r.rate, 6) AS rate
    FROM documents d JOIN rated r ON d.source = r.source
    GROUP BY d.source, r.n_docs, r.rate
    """,
)
def temperature_mix_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """α=0.5 temperature mix over the 20 document sources: keep-rate
    min(1, 2/√N_s) flattens large sources toward rare ones. Per-source
    original/kept counts + the rate, proving the sampled membership is
    bit-identical cross-engine (sqrt is IEEE-correctly-rounded — see
    operators/sampling.sqrt_temperature_mix; a pow()-based α would not
    survive the value-hash gate)."""
    docs = read_table(spark, sf_dir, "documents")
    kept = (
        sqrt_temperature_mix(docs, group_col="source", key="doc_id")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    rate = F.least(F.lit(1.0), F.lit(2.0) / F.sqrt(F.col("n_docs").cast("double")))
    return (
        counts.join(kept, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce(F.col("n_kept"), F.lit(0).cast("long")).alias("n_kept"),
            F.round(rate, 6).alias("rate"),
        )
    )


@query(
    "train_split_assign",
    oracle="""
    SELECT CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccc'
                THEN 'train'
                WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666'
                THEN 'val' ELSE 'test' END AS split,
           lang, count(*) AS n_docs
    FROM documents
    GROUP BY 1, 2
    """,
)
def train_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment keyed on doc_id —
    membership survives re-partitioning, engine migration, and incremental
    corpus growth (a doc's split never changes as data is added, unlike
    position- or RNG-based splits). Thresholds are the fixed hex buckets
    0.8·2³² = cccccccc and 0.9·2³² = e6666666; the per-lang breakdown
    doubles as a stratification sanity check. Pure map-side CASE + one
    partial-agg groupBy."""
    docs = read_table(spark, sf_dir, "documents")
    bucket = sample_bucket("doc_id", seed="split")
    split = (
        F.when(bucket < "cccccccc", F.lit("train"))
        .when(bucket < "e6666666", F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.select(split.alias("split"), "lang")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "gdpr_erase_audit",
    oracle="""
    WITH subjects AS (
        SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0
    ),
    o AS (
        SELECT CAST(count(*) AS BIGINT) AS total,
               CAST(sum(CASE WHEN s.c_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS erased
        FROM orders LEFT JOIN subjects s ON s.c_custkey = orders.o_custkey
    ),
    l AS (
        SELECT CAST(count(*) AS BIGINT) AS total,
               CAST(sum(CASE WHEN so.o_orderkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS erased
        FROM lineitem
        LEFT JOIN (SELECT o_orderkey FROM orders JOIN subjects s ON s.c_custkey = o_custkey) so
          ON so.o_orderkey = lineitem.l_orderkey
    ),
    c AS (
        SELECT CAST(count(*) AS BIGINT) AS total,
               CAST((SELECT count(*) FROM subjects) AS BIGINT) AS erased
        FROM customer
    )
    SELECT 'customer' AS table_name, total, erased, total - erased AS remaining FROM c
    UNION ALL
    SELECT 'lineitem', total, erased, total - erased FROM l
    UNION ALL
    SELECT 'orders', total, erased, total - erased FROM o
    ORDER BY table_name
    """,
)
def gdpr_erase_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten impact audit: for a deterministic subject
    cohort (custkey ≡ 0 mod 97), count the rows each table would lose —
    customers directly, orders via custkey, lineitems via the subjects'
    orderkeys — the pre-flight report a GDPR erasure job emits before
    rewriting, and the post-flight verification that remaining = total −
    erased.

    Scale shape: the subject cohort here is a fixed FRACTION of customers
    (mod-97), so neither it nor the subjects' orderkey set is
    bounded-by-definition — the joins are plain equi-joins and AQE decides
    broadcast vs shuffle from actual sizes (a forced broadcast would hit
    the 8 GB cap on a 100-TB cohort).  Every count is a map-combinable
    conditional aggregate."""
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    subjects = cust.filter(F.col("c_custkey") % 97 == 0).select("c_custkey")
    o = orders.join(
        subjects, subjects["c_custkey"] == orders["o_custkey"], "left"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("total"),
        F.sum(F.when(subjects["c_custkey"].isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("erased"),
    )
    subj_orders = orders.join(
        subjects, subjects["c_custkey"] == orders["o_custkey"]
    ).select("o_orderkey")
    l = li.join(
        subj_orders, subj_orders["o_orderkey"] == li["l_orderkey"], "left"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("total"),
        F.sum(F.when(subj_orders["o_orderkey"].isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("erased"),
    )
    n_subj = subjects.agg(F.count(F.lit(1)).cast("long").alias("erased"))
    c = cust.agg(F.count(F.lit(1)).cast("long").alias("total")).crossJoin(
        F.broadcast(n_subj)
    )
    rows = (
        c.select(F.lit("customer").alias("table_name"), "total", "erased")
        .unionAll(l.select(F.lit("lineitem").alias("table_name"), "total", "erased"))
        .unionAll(o.select(F.lit("orders").alias("table_name"), "total", "erased"))
    )
    return rows.select(
        "table_name",
        "total",
        "erased",
        (F.col("total") - F.col("erased")).alias("remaining"),
    ).orderBy("table_name")
