"""Tests for the benchmark's own code: fixtures, checkers and spans.

No Spark session is needed:

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from checks import CHECKED_TOTALS, check_curation, check_cycle, check_frame, lsh_precision  # noqa: E402
from fixtures import (  # noqa: E402
    FAULT_SHARE_DENOM,
    FetchError,
    RestFixture,
    RpcFixture,
    bins,
    expected_cycle_totals,
    fees,
    history,
    make_universe,
    pool_stats,
)
from spans import Tracer, covered  # noqa: E402


class Counter:
    """Stands in for a Spark accumulator."""

    def __init__(self):
        self.value = 0

    def add(self, n):
        self.value += n


def payloads(seed: int, cycle: int = 0) -> list:
    u = make_universe(seed, n_pools=5, n_pairs=200)
    user, pool = u.pairs[3]
    return [
        pool_stats(seed, pool, "1d", cycle),
        pool_stats(seed, pool, "1h", cycle),
        history(seed, user, pool, cycle),
        fees(seed, user, pool, cycle),
        bins(seed, user, pool, 8_388_608, cycle),
        u.pairs,
        sorted(u.faults.items()),
    ]


def test_fixtures_are_a_pure_function_of_the_seed():
    assert payloads(1) == payloads(1)
    assert payloads(1) != payloads(2)
    assert payloads(1, cycle=0)[:5] != payloads(1, cycle=1)[:5]


@pytest.mark.parametrize("n_pairs", [100, 1000, 2000])
def test_fault_share_is_exact(n_pairs):
    u = make_universe(7, n_pairs=n_pairs)
    assert len(u.faults) * FAULT_SHARE_DENOM == n_pairs
    assert u.fault_share == 1 / FAULT_SHARE_DENOM
    assert len(u.healthy_pairs()) == n_pairs - len(u.faults)


def test_faulty_pairs_fail_on_exactly_their_endpoint():
    u = make_universe(3, n_pools=5, n_pairs=500)
    rest_calls, rpc_calls = Counter(), Counter()
    rest, rpc = RestFixture(u, 0, rest_calls, rtt_s=0), RpcFixture(u, 0, rpc_calls, rtt_s=0)
    for (user, pool), endpoint in u.faults.items():
        for kind in ("history", "fees"):
            call = lambda: rest(f"bench://{kind}/{user}/{pool}", {})  # noqa: E731
            if kind == endpoint:
                with pytest.raises(FetchError):
                    call()
            else:
                assert len(call()) > 0
        if endpoint == "bins":
            with pytest.raises(FetchError):
                rpc(pool, user, 8_388_608, 10, 10)
        else:
            assert len(rpc(pool, user, 8_388_608, 10, 10)) > 0
    assert rest_calls.value == 2 * len(u.faults)
    assert rpc_calls.value == len(u.faults)


# --- checkers ---------------------------------------------------------------

SNAPSHOT_ORDER = ["user_address", "pool_address", *CHECKED_TOTALS]


def cycle_rows():
    """Rows of one good cycle and the totals they must sum to."""
    u = make_universe(5, n_pools=6, n_pairs=100)
    healthy = u.healthy_pairs()
    rows = pd.DataFrame(
        {
            "user_address": [p[0] for p in healthy],
            "pool_address": [p[1] for p in healthy],
            **{c: [float(i + k) for i in range(len(healthy))] for k, c in enumerate(CHECKED_TOTALS)},
        }
    )
    totals = {c: float(rows[c].sum()) for c in CHECKED_TOTALS}
    return rows, set(healthy), totals


def test_check_cycle_accepts_a_correct_cycle():
    rows, pairs, totals = cycle_rows()
    assert check_cycle(SNAPSHOT_ORDER, rows, pairs, totals, SNAPSHOT_ORDER) == []


@pytest.mark.parametrize(
    "perturb",
    [
        lambda r: r.assign(token_x_amount=r["token_x_amount"].where(r.index != 0, -1.0)),
        lambda r: r.assign(accrued_fees_token_x=r["accrued_fees_token_x"] * (1 + 1e-6)),
        lambda r: r.iloc[1:],
        lambda r: pd.concat([r, r.iloc[:1]]),
    ],
    ids=["value", "fees", "missing_row", "duplicate_row"],
)
def test_check_cycle_rejects_a_perturbed_row(perturb):
    rows, pairs, totals = cycle_rows()
    assert check_cycle(SNAPSHOT_ORDER, perturb(rows), pairs, totals, SNAPSHOT_ORDER)


def test_check_cycle_rejects_wrong_columns():
    rows, pairs, totals = cycle_rows()
    assert check_cycle(SNAPSHOT_ORDER[::-1], rows, pairs, totals, SNAPSHOT_ORDER)


def test_expected_cycle_totals_sum_payloads_of_healthy_pairs():
    u = make_universe(9, n_pools=6, n_pairs=100)
    tot = expected_cycle_totals(u, 2)
    assert set(tot) == set(CHECKED_TOTALS) and all(v > 0 for v in tot.values())
    assert expected_cycle_totals(u, 2) == tot
    assert expected_cycle_totals(u, 3) != tot


def test_check_frame_rejects_a_perturbed_row():
    want = pd.DataFrame({"pool": ["a", "b", "c"], "v": [1.0, 2.0, 3.0], "n": [1, 2, 3]})
    got = want.iloc[::-1].reset_index(drop=True)
    assert check_frame(got, want, ["pool"]) == []
    assert check_frame(got.assign(v=[3.0, 2.0, 1.0 + 1e-3]), want, ["pool"])
    assert check_frame(got.assign(n=[3, 2, 2]), want, ["pool"])
    assert check_frame(got.iloc[1:], want, ["pool"])
    assert check_frame(got.rename(columns={"v": "w"}), want, ["pool"])


def test_check_curation_rejects_a_perturbed_pass():
    ref_pairs = {(1, 2), (3, 4)}
    ref_prof = {"rows": 10, "ids": 10, "checksum": 42}
    assert check_curation(set(ref_pairs), ref_pairs, dict(ref_prof), ref_prof, 10) == []
    assert check_curation({(1, 2)}, ref_pairs, dict(ref_prof), ref_prof, 10)
    assert check_curation(ref_pairs, ref_pairs, {**ref_prof, "rows": 11}, ref_prof, 10)
    assert check_curation(ref_pairs, ref_pairs, {**ref_prof, "checksum": 43}, ref_prof, 10)


def test_lsh_precision_uses_exact_shingle_jaccard():
    texts = {1: "a b c d e", 2: "a b c d x", 3: "p q r s t"}
    # {abc, bcd, cde} vs {abc, bcd, cdx}: Jaccard 2/4 = 0.5 (kept); 1 vs 3: 0.
    assert lsh_precision({(1, 2), (1, 3)}, texts) == 0.5


# --- spans -------------------------------------------------------------------


def test_covered_merges_overlapping_intervals():
    assert covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert covered([]) == 0


class FakeTracker:
    def getJobIdsForGroup(self, group):
        return []


class FakeContext:
    def setJobGroup(self, group, description):
        pass

    def setLocalProperty(self, key, value):
        pass

    def statusTracker(self):
        return FakeTracker()


def test_self_time_subtracts_children():
    tr = Tracer(FakeContext(), enabled=True)
    with tr.span("root", 0):
        with tr.span("a", 0):
            pass
        with tr.span("b", 0):
            pass
    root, a, b = tr.spans
    assert a.parent == b.parent == root.sid and root.parent is None
    assert tr.self_time(root) == pytest.approx((root.end - root.start) - (a.end - a.start) - (b.end - b.start))
    assert tr.self_time(a) == a.end - a.start


def test_disabled_tracer_records_nothing():
    tr = Tracer(FakeContext(), enabled=False)
    with tr.span("root", 0):
        pass
    assert tr.spans == [] and tr.median_of("root") == 0.0


# --- BENCHMARK.json ------------------------------------------------------------


def test_benchmark_json_lists_the_metrics_the_run_prints():
    import json

    import run

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    as_tuples = lambda ms: [(m["name"], m["unit"], m["better"]) for m in ms]  # noqa: E731
    assert as_tuples(spec["end_to_end"]) == run.END_TO_END
    assert as_tuples(spec["per_layer"]) == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.ALIASES)
