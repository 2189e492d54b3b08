"""tools/ab.py's keep and claim rules, on synthetic readings: a no-op
change (both sides drawn alike) is not kept, a clear gain is; a gain
over too few pairs, or one inside the parent's spread, is not claimed."""

from __future__ import annotations

import importlib.util
import json
from pathlib import Path

import numpy as np
import pytest

REPO = Path(__file__).resolve().parent.parent
_spec = importlib.util.spec_from_file_location("ab", REPO / "tools" / "ab.py")
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)


def test_sign_test_p():
    assert ab.sign_test_p(5, 0) == 1 / 32
    assert ab.sign_test_p(0, 0) == 1.0
    assert abs(ab.sign_test_p(9, 1) - 11 / 1024) < 1e-12


def test_a_no_op_change_is_not_kept():
    # ops_per_s-like readings with the box's 10-20% spread, both sides
    # from one distribution: any "keep" is a false claim
    rng = np.random.default_rng(7)
    a, b = rng.normal(3.0, 0.4, 7), rng.normal(3.0, 0.4, 7)
    assert not ab.compare(list(a), list(b), higher_is_better=True)["keep"]
    # over many no-op sessions the rule keeps at most about its p bound
    kept = sum(
        ab.compare(list(rng.normal(3.0, 0.4, 7)), list(rng.normal(3.0, 0.4, 7)), True)["keep"]
        for _ in range(2000)
    )
    assert kept / 2000 < 0.06, kept
    assert not any(
        ab.compare(list(rng.normal(3.0, 0.4, 10)), list(rng.normal(3.0, 0.4, 10)), True)["claim"]
        for _ in range(200)
    )


def test_ties_count_for_neither_side():
    c = ab.compare([1.0] * 5, [1.0] * 5, higher_is_better=True)
    assert (c["wins"], c["losses"], c["p"], c["keep"]) == (0, 0, 1.0, False)


def test_a_clear_gain_is_kept_in_either_direction():
    rng = np.random.default_rng(11)
    slow = list(rng.normal(0.25, 0.01, 7))
    fast = list(rng.normal(0.20, 0.01, 7))
    # latency: lower is better
    c = ab.compare(slow, fast, higher_is_better=False)
    assert (c["wins"], c["keep"]) == (7, True)
    # and the same readings as a throughput gained nothing
    assert not ab.compare(slow, fast, higher_is_better=True)["keep"]


def test_iqr_interpolates_between_readings():
    assert ab.iqr([1.0, 2.0, 3.0, 4.0, 5.0]) == 2.0
    assert ab.iqr([1.0, 2.0, 3.0, 4.0]) == 1.5


def test_the_claim_needs_ten_pairs_nine_won_and_a_gap_beyond_the_iqr():
    a = [3.0, 3.1, 2.9, 3.2, 2.8, 3.0, 3.1, 2.9, 3.2, 2.8]  # IQR 0.2
    # 5/5 pairs won clear of every reading: kept, but too few to claim
    c = ab.compare(a[:5], [x + 1.0 for x in a[:5]], higher_is_better=True)
    assert (c["keep"], c["claim"]) == (True, False)
    # 10/10 won by 0.5, beyond A's IQR of 0.2: claimed
    c = ab.compare(a, [x + 0.5 for x in a], higher_is_better=True)
    assert c["a_iqr"] == pytest.approx(0.2)
    assert (c["wins"], c["keep"], c["claim"]) == (10, True, True)
    # 10/10 won, but the median moved by 0.1, inside A's IQR: not claimed
    c = ab.compare(a, [x + 0.1 for x in a], higher_is_better=True)
    assert (c["wins"], c["keep"], c["claim"]) == (10, True, False)
    # 8/10 won by a wide margin: not claimed
    c = ab.compare(a, [x + 0.5 for x in a[:8]] + [x - 0.5 for x in a[8:]], True)
    assert (c["wins"], c["claim"]) == (8, False)
    # the same rule for a latency, where lower is better
    c = ab.compare(a, [x - 0.5 for x in a], higher_is_better=False)
    assert (c["wins"], c["claim"]) == (10, True)


def test_a_run_reads_timed_and_first_call_medians_per_kind():
    meta = {
        "warmup_by_kind": [["kpi_summary", 8.3], ["embedding_ann_pq", 4.6], ["kpi_summary", 1.1]],
        "latency_by_kind": {"kpi_summary": [0.12, 0.2, 0.15], "embedding_ann_pq": [0.3]},
        "timed_ops": 4,
        "steal_s": 0.4,
    }
    result = {"failed": 0, "metrics": {"ops_per_s": {"value": 4.1, "unit": "1/s"}}}
    out = "log line\n" + json.dumps({"meta": meta}) + "\n" + json.dumps(result) + "\n"
    run = ab.parse_run(out)
    assert run["kinds"] == {"kpi_summary": 0.15, "embedding_ann_pq": 0.3}
    assert run["first"] == {"kpi_summary": pytest.approx(4.7), "embedding_ann_pq": 4.6}
    assert (run["metrics"], run["timed_ops"], run["failed"]) == ({"ops_per_s": 4.1}, 4, 0)
    rows = ab.report({"A": [run] * 5, "B": [run] * 5}, {"ops_per_s": True})
    labels = [r.split(" | ")[0].lstrip("| ") for r in rows[2:]]
    assert labels == [
        "ops_per_s",
        "kpi_summary (s)",
        "embedding_ann_pq (s)",
        "kpi_summary first call (s)",
        "embedding_ann_pq first call (s)",
    ]
