"""Text-analysis operators for corpus curation (SURVEY.md §2B ◆):
language ID, quality scoring, token counting, document fingerprinting.

All pure column expressions / higher-order functions — the scan stays in
whole-stage codegen — except ``rolling_hash_fingerprints``, whose rolling
hash runs as whole-array numpy ops in one ``mapInPandas`` kernel.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword profiles for the n-gram/stopword-vote heuristic.
# Deliberately small: language ID at corpus scale is a scoring pass, not a
# model; precision comes from voting across many tokens.
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "fr": ["le", "la", "et", "les", "des", "est", "un", "une", "dans", "que"],
    "es": ["el", "la", "de", "que", "y", "los", "en", "un", "una", "por"],
}


def tokens(text_col: str | Column) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(F.lower(F.trim(c)), r"\s+")


def token_count(text_col: str | Column, toks: Column | None = None) -> Column:
    """Whitespace token count (BPE-ish refinement: count word-piece-like
    chunks by also splitting punctuation boundaries). Pass ``toks`` to
    reuse an already-projected token array (HOF/split expressions are not
    CSE'd across columns — see text_profile)."""
    return F.size(tokens(text_col) if toks is None else toks)


def lang_id(text_col: str | Column, toks: Column | None = None) -> Column:
    """Heuristic language ID: per language of ``LANG_PROFILES``, count
    stopword hits among the tokens; emit the argmax language or 'und' when
    nothing scores.

    Implemented as a greatest-of-struct trick: build (score, lang) structs,
    take ``greatest`` (lexicographic → max score wins, ties break on lang
    reverse-alphabetically), unwrap."""
    if toks is None:
        toks = tokens(text_col)
    scored = [
        F.struct(
            F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))).alias("s"),
            F.lit(lang).alias("l"),
        )
        for lang, words in LANG_PROFILES.items()
    ]
    best = F.greatest(*scored)
    return F.when(best["s"] > 0, best["l"]).otherwise(F.lit("und"))


def quality_score(text_col: str | Column, toks: Column | None = None) -> Column:
    """Composite [0,1] quality heuristic: penalize extreme length, low
    alpha ratio, and very long average tokens (the length/punct/stopword
    family)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    n_chars = F.length(c)
    n_toks = token_count(c, toks=toks)
    # alpha+whitespace char count via translate (per-char table lookup) —
    # counts exactly what length(regexp_replace(c, '[^A-Za-z\\s]', ''))
    # did, at a fraction of the cost: the regex walked every char through
    # the engine AND built the filtered copy (measured 22 s of the 32 s
    # sf10 text profile); translate's delete-listed-chars pass is ~7×
    # cheaper. The char set is Java's \\s (space \t \n \x0b \f \r) plus
    # A-Za-z, so the VALUE is unchanged.
    _alpha_ws = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz \t\n\x0b\f\r"
    alpha_ratio = (
        (n_chars - F.length(F.translate(c, _alpha_ws, ""))).cast("double")
        / F.nullif(n_chars, F.lit(0))
    )
    avg_tok = n_chars.cast("double") / F.nullif(n_toks, F.lit(0))
    len_ok = F.when((n_chars >= 20) & (n_chars <= 100_000), F.lit(1.0)).otherwise(F.lit(0.3))
    tok_ok = F.when((avg_tok >= 2) & (avg_tok <= 12), F.lit(1.0)).otherwise(F.lit(0.5))
    return F.round(len_ok * tok_ok * F.coalesce(alpha_ratio, F.lit(0.0)), 6)


def doc_fingerprint(
    text_col: str | Column,
    hash_fn: str = "xxhash64",
    toks: Column | None = None,
) -> Column:
    """Winnowing-style document fingerprint: hash every 8-token shingle,
    keep the MINIMUM hash — a single stable fingerprint robust to
    local edits outside the minimizing window.

    ``hash_fn``: ``"xxhash64"`` (default — fastest, JVM-side, 64-bit long)
    or ``"md5"`` (portable hex-string fingerprint: every engine computes the
    same RFC-1321 digest, so results are comparable across systems; the
    min is the lexicographic min over lowercase hex, identical everywhere).
    The min-over-shingle-hashes structure is hash-family-agnostic.

    (The full winnowing algorithm keeps per-window minima; the corpus-scale
    dedup variant of that is minhash in operators/dedup.py — this scalar is
    the cheap per-doc fingerprint column.)"""
    if toks is None:
        toks = tokens(text_col)
    n, window = F.size(toks), 8
    hasher = F.xxhash64 if hash_fn == "xxhash64" else F.md5
    shingle_hashes = F.transform(
        F.sequence(F.lit(1), F.greatest(n - (window - 1), F.lit(1))),
        lambda i: hasher(F.concat_ws(" ", F.slice(toks, i, window))),
    )
    return F.array_min(shingle_hashes)


ROLLING_BASE = 257
ROLLING_MOD = 2_147_483_647  # 2^31 − 1, Mersenne prime
# Chars per gram (k) and grams per winnowing window.
ROLLING_K = 8
ROLLING_WINDOW = 4


def rolling_hash_fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Winnowing document fingerprints over a Rabin–Karp rolling hash
    (SURVEY.md §2B ◆ document fingerprinting).

    The classic winnowing scheme: hash every k-char gram (k =
    ``ROLLING_K``) with the polynomial rolling hash
    h_i = Σ c_{i+j}·B^{k−1−j} mod M (B=257, M=2^31−1 over code points),
    then keep the MINIMUM hash of every ``ROLLING_WINDOW`` consecutive
    grams; the sorted distinct minima are the
    document's fingerprint set — stable under local edits and position
    shifts, unlike a whole-document digest.

    Engine-portable by construction: pure modular integer arithmetic, so
    any engine recomputes identical fingerprints (the DuckDB oracle in
    queries/text_analysis.py replays it value-for-value, and a pure-Python
    replay is pinned by test).

    Execution: one ``mapInPandas`` kernel. Per document it decodes code
    points through a zero-copy utf-32 buffer view, folds the gram hashes
    as k whole-array (h·B + c) mod M passes (h < M = 2^31−1, so
    h·257 + c < 2^40 — exact in int64), takes the sliding-window minima
    with ``np.minimum`` over shifted views and the sorted distinct minima
    with ``np.unique``: no quadratic substring scans, no per-gram array
    allocation (measured at 1.3M docs: 80 s as JVM higher-order functions
    → kernel seconds).

    Documents shorter than ``ROLLING_K + ROLLING_WINDOW − 1`` chars carry
    no full window and are filtered out (mirror the predicate in any
    oracle).
    """
    import numpy as np
    import pandas as pd

    b, m, k, window = ROLLING_BASE, ROLLING_MOD, ROLLING_K, ROLLING_WINDOW
    min_len = k + window - 1

    def kernel(batches):
        for pdf in batches:
            out_id, out_ng, out_fp = [], [], []
            for did, txt in zip(pdf[id_col], pdf[text_col]):
                if txt is None or len(txt) < min_len:
                    continue
                c = np.frombuffer(txt.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
                ng = len(c) - k + 1
                h = np.zeros(ng, dtype=np.int64)
                for j in range(k):
                    h *= b
                    h += c[j : j + ng]
                    h %= m
                nw = ng - window + 1
                wm = h[:nw].copy()
                for j in range(1, window):
                    np.minimum(wm, h[j : j + nw], out=wm)
                out_id.append(did)
                out_ng.append(ng)
                out_fp.append(np.unique(wm))
            if out_id:  # an empty frame's object column has no list<long> type for Arrow
                yield pd.DataFrame({id_col: out_id, "n_grams": out_ng, "fingerprints": out_fp})

    src = df.select(id_col, text_col)
    return src.mapInPandas(
        kernel, f"{id_col} long, n_grams int, fingerprints array<long>"
    )


def text_profile(
    df: DataFrame, id_col: str, text_col: str, fingerprint_hash: str = "xxhash64"
) -> DataFrame:
    """One-pass per-document profile: tokens, chars, detected lang, quality,
    fingerprint (``fingerprint_hash`` as in :func:`doc_fingerprint`).

    The token array is projected ONCE and shared by all four token-based
    metrics: split/HOF expressions are not CSE'd, so the naive form
    re-tokenizes every document 4x per row (and CollapseProject keeps the
    two-step shape because a non-cheap alias referenced 4x is not inlined
    — pinned by tests/test_plan_shapes.py)."""
    base = df.select(F.col(id_col), F.col(text_col) if isinstance(text_col, str) else text_col,
                     tokens(text_col).alias("__toks"))
    t = F.col("__toks")
    return base.select(
        F.col(id_col),
        token_count(text_col, toks=t).alias("n_tokens"),
        F.length(text_col).alias("n_chars"),
        lang_id(text_col, toks=t).alias("lang_detected"),
        quality_score(text_col, toks=t).alias("quality"),
        doc_fingerprint(text_col, hash_fn=fingerprint_hash, toks=t).alias("fingerprint"),
    )
