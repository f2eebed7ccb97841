"""``corpus_curation``: near-duplicate candidates and text profiles.

The corpus comes from ``tools/make_testdata.generate(seed, scale=40)``:
about 20 000 documents, about 8 % of them near-copies of an earlier one.
Each operation reads the documents, calls
``operators.dedup.minhash_lsh_candidates`` and then
``operators.text.text_profile`` over the whole corpus. The candidate set
must be identical on every pass, and the profile must have one row per
document with the same content checksum as the set-up pass.
"""

from __future__ import annotations

import contextlib
import io
import os

from pyspark.sql import functions as F

from traderjoe_etl_spark.operators.dedup import minhash_lsh_candidates
from traderjoe_etl_spark.operators.text import text_profile

from checks import check_curation, lsh_precision

SCALE = 40


class CorpusCuration:
    """One operation = one curation pass over the corpus."""

    def __init__(self, spark, seed: int, workdir: str, tracer):
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.data_dir = os.path.join(workdir, "testdata")
        self.path = os.path.join(self.data_dir, "documents.parquet")
        self.n_docs = 0
        self.reference = None
        self.results = {}  # op id -> (candidate pairs, profile stats)
        self.precision = 0.0

    @property
    def items_per_op(self) -> int:
        return self.n_docs

    def setup(self) -> None:
        from tools.make_testdata import generate

        with contextlib.redirect_stdout(io.StringIO()):  # generate() prints row counts
            generate(self.data_dir, self.seed, SCALE)
        texts = {r.doc_id: r.text for r in self.spark.read.parquet(self.path).collect()}
        self.n_docs = len(texts)
        with self.tracer.paused():
            self.op(-1, 0)  # warm-up pass; its output is the reference
        self.reference = self.results[-1]
        self.precision = lsh_precision(self.reference[0], texts)

    def op(self, op_id: int, kind: int = 0) -> None:
        docs = self.spark.read.parquet(self.path).select("doc_id", "text")
        with self.tracer.span("operators.minhash_lsh_candidates", op_id):
            cands = minhash_lsh_candidates(docs, "doc_id", "text")
            pairs = {(r.id_a, r.id_b) for r in cands.select("id_a", "id_b").collect()}
        with self.tracer.span("operators.text_profile", op_id):
            prof = text_profile(docs, "doc_id", "text")
            row = prof.agg(
                F.count(F.lit(1)).alias("rows"),
                F.countDistinct("doc_id").alias("ids"),
                F.bit_xor(F.xxhash64(*prof.columns)).alias("checksum"),
            ).collect()[0]
        self.results[op_id] = (pairs, row.asDict())

    def check(self) -> tuple[set[int], list[str]]:
        failed, msgs = set(), []
        ref_pairs, ref_prof = self.reference
        for op_id, (pairs, prof) in self.results.items():
            errors = check_curation(pairs, ref_pairs, prof, ref_prof, self.n_docs)
            if errors:
                failed.add(op_id)
                msgs.extend(f"pass {op_id}: {e}" for e in errors)
        return failed, msgs

    def summary(self) -> dict:
        return {"candidate_pairs": (len(self.reference[0]), "count")}

    def per_layer(self) -> dict[str, float]:
        tr = self.tracer
        out = {}
        for name in ("minhash_lsh_candidates", "text_profile"):
            out[f"operators.{name}_s"] = tr.median_of(f"operators.{name}")
            out[f"operators.{name}.stages"] = tr.median_of(f"operators.{name}", "stages")
            out[f"operators.{name}.tasks"] = tr.median_of(f"operators.{name}", "tasks")
        out["operators.candidate_pairs"] = len(self.reference[0])
        out["operators.lsh_precision"] = self.precision
        return out
