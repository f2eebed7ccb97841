"""Output checkers. Each returns a list of error strings; an empty list
means the output is correct. Every non-empty result counts the operation
as failed (``failed`` / ``attempted`` is the benchmark's error ratio)."""

from __future__ import annotations

import math

import pandas as pd

REL_TOL = 1e-9
ABS_TOL = 1e-6

CHECKED_TOTALS = ["token_x_amount", "accrued_fees_token_x", "total_token_value(USD)"]


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)


def check_cycle(
    columns: list[str],
    rows: pd.DataFrame,
    expected_pairs: set[tuple[str, str]],
    expected_totals: dict[str, float],
    snapshot_order: list[str],
) -> list[str]:
    """One appended cycle: the written columns equal ``snapshot_order``,
    there is exactly one row per healthy pair, and the per-cycle totals of
    the checked columns equal the totals computed from the payloads."""
    errors = []
    if list(columns) != list(snapshot_order):
        errors.append(f"columns differ from SNAPSHOT_ORDER: {list(columns)[:5]}...")
    keys = list(zip(rows["user_address"], rows["pool_address"]))
    if len(keys) != len(set(keys)):
        errors.append(f"{len(keys) - len(set(keys))} duplicate pair rows")
    if set(keys) != expected_pairs:
        missing, extra = expected_pairs - set(keys), set(keys) - expected_pairs
        errors.append(f"pair set differs: {len(missing)} missing, {len(extra)} unexpected")
    for col in CHECKED_TOTALS:
        got = math.fsum(rows[col].astype(float))
        if not _close(got, expected_totals[col]):
            errors.append(f"total {col} = {got!r}, expected {expected_totals[col]!r}")
    return errors


def _canon(df: pd.DataFrame, keys: list[str]) -> pd.DataFrame:
    return df[sorted(df.columns)].sort_values(keys, kind="mergesort").reset_index(drop=True)


def check_frame(got: pd.DataFrame, want: pd.DataFrame, keys: list[str]) -> list[str]:
    """Row-set equality of a collected query result against its oracle:
    same columns, same rows (ordered by ``keys``), floats equal to a
    relative 1e-9."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"{len(got)} rows, expected {len(want)}"]
    g, w = _canon(got, keys), _canon(want, keys)
    errors = []
    for col in g.columns:
        for i, (a, b) in enumerate(zip(g[col], w[col])):
            if isinstance(b, float):
                same = (math.isnan(a) and math.isnan(b)) or _close(float(a), float(b))
            else:
                same = a == b
            if not same:
                errors.append(f"{col} row {i}: {a!r} != {b!r}")
                break
    return errors


def check_curation(
    pairs: set[tuple[int, int]],
    reference_pairs: set[tuple[int, int]],
    profile: dict,
    reference_profile: dict,
    n_docs: int,
) -> list[str]:
    """One curation pass: the candidate-pair set equals the reference
    pass's, and the text profile has one row per document with the same
    content checksum as the reference pass."""
    errors = []
    if pairs != reference_pairs:
        errors.append(
            f"candidate set differs: {len(reference_pairs - pairs)} missing, "
            f"{len(pairs - reference_pairs)} unexpected"
        )
    if profile["rows"] != n_docs or profile["ids"] != n_docs:
        errors.append(f"text_profile gave {profile['rows']} rows / {profile['ids']} ids for {n_docs} docs")
    if profile["checksum"] != reference_profile["checksum"]:
        errors.append("text_profile content checksum differs from the reference pass")
    return errors


def shingles(text: str, k: int = 3) -> set[str]:
    """k-word shingles as ``operators.dedup`` builds them: lowercased
    whitespace tokens; a document shorter than k is one shingle."""
    toks = text.strip().lower().split()
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def lsh_precision(pairs: set[tuple[int, int]], texts: dict[int, str], threshold: float = 0.5) -> float:
    """Share of candidate pairs whose exact 3-shingle Jaccard is at least
    ``threshold``."""
    if not pairs:
        return 0.0
    sh = {}
    hits = 0
    for a, b in pairs:
        sa = sh.setdefault(a, shingles(texts[a]))
        sb = sh.setdefault(b, shingles(texts[b]))
        hits += len(sa & sb) / len(sa | sb) >= threshold
    return hits / len(pairs)
