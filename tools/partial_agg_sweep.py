"""Partial-aggregate hazard sweep: the r7–r9 heap-OOM family's detector,
as a committed, reproducible tool (VERDICT r9 item 2 — it existed only as
session prose while it caught the same hazard four times: q16's distinct,
pagerank's dropDuplicates, q21's agg+window, constraint_check's
count_distinct phase 1).

What it finds (plans/audit.partial_agg_hazards): aggregate nodes in each
registry query's pre-AQE physical plan that (a) group on a key set
containing a near-unique corpus key and (b) reach a storage-backed corpus
scan with NO Exchange below — i.e. the aggregate's first phase runs
map-side inside the scan stage, and every concurrent scan task builds a
hash map whose size tracks its input share. Whether that is a latent OOM
or the designed win depends on the DATA's dedup ratio, which no plan walk
can see — so this is a DIAGNOSTIC with a mandatory adjudication table,
not a lint: every hit must carry an entry in ADJUDICATIONS explaining why
it is sound (or be fixed). An UNADJUDICATED hit fails the run (exit 1).

Usage: python tools/partial_agg_sweep.py [sf_dir] [name...] [--out=PATH]
       default sf_dir: benchdata/sf10. --out also writes the JSON line to
       PATH (stdout can carry local-mode JVM GC warnings). Plan-BUILD only — no execution, so
       a full 222-query sweep takes minutes and can run at any scale dir
       (hits are scale-dependent: size-gated queries pick the map-side
       branch below their byte gate, so e.g. q21 hits at sf10 and goes
       clean at sf100 where its corpus_width repartition engages).

Output: one JSON line {sf_dir, n_queries, n_hits, hits: {name:
{hazards, adjudication}}, unadjudicated, stale_adjudications, errors}.
``stale_adjudications`` (entries with no hit at THIS sf_dir) is
informational only — gated queries legitimately stop hitting at scale.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Adjudication table — the r9 sweep's 22-hit assessment, now machine-checked.
# Codes:
#   size-gated        a table_bytes branch switches to the reduce-side plan
#                     past a byte cap; the map-side hit below the cap is the
#                     measured small-scale win.
#   high-dedup        grouping keys dedup their input by a large, data-
#                     shaped factor (e.g. doc_id over exploded tokens
#                     ~60:1): map-side combine is the designed win — text/
#                     token rows collapse BEFORE the shuffle.
#   tf-family         (doc_id, term)-grain term-frequency aggregates: dedup
#                     1.5–2:1, partial maps bounded by the token slice each
#                     task scans; three consecutive sf100 audits passed with
#                     documented anatomies (BENCH.md).
#   banded-pairs      minhash/LSH band-pair aggregates: per-band grouping
#                     dedups up to 16:1 across bands and band entries are
#                     hash-width tuples (text never enters the map).
#   bounded-slice     the aggregate's input is a filtered/limit-bounded
#                     slice of the corpus (not the full table), so partial
#                     maps are capped by the slice, not the corpus.
ADJUDICATIONS: dict[str, dict[str, str]] = {
    "array_set_ops": {
        "code": "high-dedup",
        "why": "ObjectHashAggregate collect per l_orderkey: the object-agg "
        "partial map falls back to spillable sort-based aggregation after "
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold (128) "
        "distinct keys, so the map-side map is constant-bounded by "
        "construction; survived all sf100 sweeps (124 s r9).",
    },
    "benchmark_decontamination": {
        "code": "high-dedup",
        "why": "(doc_id, ngram-hash) grain over exploded shingles — keys "
        "are fixed-width hashes (text never enters the map) and each task's "
        "map is bounded by its shingle slice; ngram dedup within doc plus "
        "hash-only entries keep partial maps far under input share.",
    },
    "bigram_surprisal_scores": {
        "code": "high-dedup",
        "why": "doc_id grouping over exploded token bigrams dedups "
        "~tokens-per-doc:1 (~60:1 measured class) — map-side combine is the "
        "designed win; text collapses to per-doc counts before the shuffle.",
    },
    "bm25_search": {
        "code": "tf-family",
        "why": "(doc_id) and (doc_id, term) tf aggregates over exploded "
        "tokens: dedup 1.5–2:1 at term grain, ~60:1 at doc grain; partial "
        "map entries are (id, term-hash, count) — three consecutive sf100 "
        "audits passed with documented anatomy (BENCH.md tf-idf family).",
    },
    "bpe_encode_corpus": {
        "code": "high-dedup",
        "why": "doc_id grouping over exploded BPE tokens (~60:1): the "
        "packed-key partial agg exists precisely so text never shuffles "
        "(NOTES r9 sweep adjudication).",
    },
    "column_profile_events": {
        "code": "bounded-slice",
        "why": "the event_id hit is count(DISTINCT event_id)'s phase-1, "
        "one narrow exact-distinct aggregate per profiled column. events "
        "is also the 1.6 GB sf100 table (7x under lineitem); in-sweep "
        "survivor of every sf100 audit.",
    },
    "count_distribution_q13": {
        "code": "high-dedup",
        "why": "c_custkey over orders dedups ~10:1 (orders per customer) "
        "with primitive count values — classic map-side combine win; "
        "sf100 in-sweep survivor since r4.",
    },
    "exists_sole_blame_suppliers_q21": {
        "code": "size-gated",
        "why": "below _Q21_MAPSIDE_CAP_BYTES (2 GiB lineitem — 2x the "
        "largest measured-safe input, ADVICE r10) the map-side partial agg "
        "+ pair-key exchange is the measured win (16.9 s vs 28.1 s fresh "
        "sf10); past the gate the corpus_width orderkey repartition runs "
        "the aggregate AND window reduce-side (r9 fix; hit disappears at "
        "sf100 — verified by this tool's sf100 run).",
    },
    "feature_hashing": {
        "code": "tf-family",
        "why": "(bucket, doc_id) tf aggregate over exploded tokens — same "
        "anatomy as tfidf/bm25 (dedup 1.5–2:1, fixed-width keys), "
        "sf100-proven across three rounds.",
    },
    "having_in_large_orders_q18": {
        "code": "high-dedup",
        "why": "sum(l_quantity) per l_orderkey: 4:1 dedup with an 16-byte "
        "primitive entry per order — per-task partial maps are ~1/4 input "
        "rows of (key,sum) pairs, the textbook map-side combine; in-sweep "
        "sf100 survivor every round since its r8 broadcast fix.",
    },
    "inverted_index_postings": {
        "code": "tf-family",
        "why": "(doc_id, term) posting tf — the defining member of the "
        "measured tf anatomy (dedup 1.5–2:1, BENCH.md); sf100-proven.",
    },
    "left_join_order_counts": {
        "code": "high-dedup",
        "why": "(c_custkey, c_mktsegment) counts over the orders join "
        "probe stream: ~10:1 dedup, primitive counts; reference-surface "
        "query (§2A J1), sf100 in-sweep survivor.",
    },
    "minhash_near_dup": {
        "code": "banded-pairs",
        "why": "doc_id grouping builds the per-doc minhash signature from "
        "exploded shingles (~60:1 dedup, hash-width values); band pair "
        "aggs further down are post-exchange (NOTES r9: up to 16:1 across "
        "bands).",
    },
    "minhash_near_dup_fast": {
        "code": "banded-pairs",
        "why": "same signature-build aggregate as minhash_near_dup "
        "(shared subtree — the chained fast path reuses it).",
    },
    "naive_bayes_lang_confusion": {
        "code": "tf-family",
        "why": "(doc_id, lang, term) tf grain — tf anatomy, dedup 1.5–2:1, "
        "collapses to |vocab|x|lang| immediately after; sf100-proven.",
    },
    "nested_collections": {
        "code": "high-dedup",
        "why": "ObjectHashAggregate per l_orderkey: constant-bounded by "
        "the 128-key sort-based fallback (see array_set_ops); spillable.",
    },
    "order_reconciliation": {
        "code": "high-dedup",
        "why": "per-order sums over lineitem (4:1, primitive values) — "
        "map-side combine win; sf100 in-sweep survivor.",
    },
    "posexplode_outer_order_items": {
        "code": "high-dedup",
        "why": "ObjectHashAggregate per l_orderkey: constant-bounded by "
        "the 128-key sort-based fallback (see array_set_ops); spillable.",
    },
    "pq_adc_topk": {
        "code": "bounded-slice",
        "why": "vec_id grouping over exploded PQ subquantizer codes dedups "
        "M:1 (M=subvector count) with primitive distance partials; "
        "embeddings is the 0.5 GB sf100 table — per-task map share is "
        "megabytes.",
    },
    "repetition_scores": {
        "code": "high-dedup",
        "why": "(doc_id, ngram) grains over exploded n-grams: within-doc "
        "repetition is the SIGNAL being measured, so grouping collapses "
        "repeats before the shuffle (~60:1 doc-grain class); sf100-proven.",
    },
    "returned_item_report_q10": {
        "code": "high-dedup",
        "why": "customer-grain group over the R-filtered (~25%) lineitem "
        "join stream: ~6:1 dedup on the filtered slice, primitive sums; "
        "sf100 in-sweep survivor.",
    },
    "revenue_by_region": {
        "code": "high-dedup",
        "why": "per-order revenue partials over lineitem (4:1, one "
        "decimal sum per order) feeding the co-keyed shuffle join — the "
        "documented 100-TB plan for this query (docstring); sf100-proven.",
    },
    "right_join_parts_in_lineitem": {
        "code": "high-dedup",
        "why": "(p_partkey, p_brand) over lineitem dedups ~30:1 (lines "
        "per part), primitive counts; map-side combine win.",
    },
    "segment_dedup_corpus": {
        "code": "high-dedup",
        "why": "ObjectHashAggregate packed-key per-doc segment rebuild: "
        "constant-bounded by the 128-key sort fallback, and the packed-key "
        "design exists precisely so text never shuffles (NOTES r9).",
    },
    "shipping_priority_q3": {
        "code": "high-dedup",
        "why": "(l_orderkey, o_orderdate, o_orderpriority) over the "
        "filtered join probe stream: order grain 4:1 on a ~25% date "
        "slice, primitive revenue sums; sf100 in-sweep survivor.",
    },
    "simhash_fingerprints": {
        "code": "high-dedup",
        "why": "doc_id over exploded token-hash bit contributions (~60:1) "
        "— NOTES r9 named this the designed map-side win.",
    },
    "simhash_near_dup": {
        "code": "high-dedup",
        "why": "same signature-build aggregate as simhash_fingerprints "
        "(shared subtree).",
    },
    "tfidf_top_terms": {
        "code": "tf-family",
        "why": "(doc_id, term) tf — the canonical tf anatomy member "
        "(dedup 1.5–2:1, fixed-width entries, BENCH.md); sf100-proven "
        "across three rounds.",
    },
    "udtf_token_explode": {
        "code": "tf-family",
        "why": "(doc_id, token) counts over the UDTF-exploded token "
        "stream — same tf anatomy as tfidf/bm25; sf100 in-sweep survivor.",
    },
    "sparse_shingle_cosine_pairs": {
        "code": "size-gated",
        "why": "(doc_id, shingle-key) grain: below _SPARSE_PIN_BYTES the "
        "small branch skips the pre-partition (map-side combine wins; this "
        "hit appears at sf0.01/sf1 only); at_scale the postings pipeline "
        "repartitions at corpus_width BEFORE the aggregates (retrieval.py "
        "_repart) — hit absent at sf10/sf100, verified by both sweep "
        "artifacts.",
    },
    "stratified_sample_counts": {
        "code": "bounded-slice",
        "why": "countDistinct phase-1 over the HASH-SAMPLED customer "
        "table (rates 0.5/0.2/0.05): input is a <=50% slice of the 0.18 GB "
        "sf100 customer dim — per-task map share is megabytes at any "
        "audited scale.",
    },
}


def main() -> None:
    out_path = ""
    pos: list[str] = []
    for a in sys.argv[1:]:
        if a.startswith("--out="):
            out_path = a.split("=", 1)[1]
        elif a.startswith("--"):
            sys.exit(f"unknown flag {a!r} — only --out=PATH is supported")
        else:
            pos.append(a)
    sf_dir = pos[0] if pos else "benchdata/sf10"
    only = set(pos[1:])

    import gc

    from tools.scale_audit import _fresh_session

    from traderjoe_etl_spark.plans.audit import partial_agg_hazards
    from traderjoe_etl_spark.queries import queries

    spark = _fresh_session()
    qs = queries()
    if only:
        unknown = only - set(qs)
        if unknown:  # a typo'd name must not read as a clean pass
            sys.exit(f"unknown query name(s): {sorted(unknown)}")
        qs = {k: v for k, v in qs.items() if k in only}

    hits: dict[str, dict[str, object]] = {}
    errors: dict[str, str] = {}
    for i, name in enumerate(sorted(qs)):
        if i and i % 25 == 0:
            # Plan-build is lazy for most queries, but iterative ones run
            # real work through eager localCheckpoints and streaming drains
            # execute outright — a single long session accumulates their
            # heap/daemon state exactly like the timing sweeps (the first
            # un-recycled run of this tool cascade-killed the stream_*
            # family at position ~200 via ambient GC pressure).
            print(f"... recycling session at query {i}", file=sys.stderr, flush=True)
            spark = _fresh_session(spark)
        print(f"... {name}", file=sys.stderr, flush=True)
        try:
            spark.catalog.clearCache()
            gc.collect()
            try:
                spark.sparkContext._jvm.System.gc()
            except Exception:
                pass
            hz = partial_agg_hazards(qs[name](spark, sf_dir))
        except Exception as exc:
            errors[name] = f"{type(exc).__name__}: {str(exc)[:200]}"
            try:
                dead = spark.sparkContext._jsc.sc().isStopped()
            except Exception:
                dead = True
            if dead:
                print(f"    {name} stopped the SparkContext — rebuilding",
                      file=sys.stderr, flush=True)
                spark = _fresh_session(spark)
            continue
        if hz:
            hits[name] = {
                "hazards": hz,
                "adjudication": ADJUDICATIONS.get(name),
            }

    unadjudicated = sorted(k for k, v in hits.items() if v["adjudication"] is None)
    # Staleness is only meaningful against the queries that actually RAN:
    # a name-restricted invocation would otherwise report nearly every
    # ADJUDICATIONS entry as stale (ADVICE r10) — intersect with the swept
    # set, and record the filter so the artifact is self-describing.
    stale = sorted((set(ADJUDICATIONS) & set(qs)) - set(hits) - set(errors))
    out = {
        "sf_dir": sf_dir,
        "n_queries": len(qs),
        # non-empty == targeted re-sweep; stale_adjudications then covers
        # only these names, not the whole table
        "name_filter": sorted(only),
        "n_hits": len(hits),
        "hits": hits,
        "unadjudicated": unadjudicated,
        # informational: gated queries legitimately stop hitting at scale
        "stale_adjudications": stale,
        "errors": errors,
    }
    blob = json.dumps(out)
    print(blob)
    if out_path:  # clean copy — local-mode JVMs write GC warnings to stdout
        with open(out_path, "w") as f:
            f.write(blob + "\n")
    if unadjudicated or errors:
        sys.exit(1)


if __name__ == "__main__":
    main()
