"""Answer canonicalisation and the seeded op sequence."""

import itertools
from datetime import date, datetime
from decimal import Decimal

import numpy as np
import pandas as pd

from perfbench import stats, workloads


def test_pandas_answer_compares_with_plain_rows():
    pdf = pd.DataFrame(
        {
            "n": np.array([2, 1], dtype="int64"),
            "x": [0.5, float("nan")],
            "ts": pd.to_datetime(["2024-01-02 03:04:05", "2024-01-01 00:00:00"]),
            "d": [date(2024, 1, 2), date(2024, 1, 1)],
            "v": [np.array([1.0, 2.0], dtype="float32"), np.array([3.0], dtype="float32")],
            "m": [Decimal("1.50"), None],
        }
    )
    # the same answer as DuckDB or collect() gives it, other column order
    plain = [
        (1, None, date(2024, 1, 1), [3.0], datetime(2024, 1, 1), float("nan")),
        (2, Decimal("1.50"), date(2024, 1, 2), [1.0, 2.0], datetime(2024, 1, 2, 3, 4, 5), 0.5),
    ]
    cols = ["n", "m", "d", "v", "ts", "x"]
    assert workloads.frame_rows(pdf) == workloads.canonical_rows(cols, plain)


def test_pandas_answer_differs_on_last_bit():
    pdf = pd.DataFrame({"x": [0.1 + 0.2]})
    assert workloads.frame_rows(pdf) != workloads.canonical_rows(["x"], [(0.3,)])


def test_digest_is_order_free():
    a = pd.DataFrame({"k": [1, 2], "v": ["a", "b"]})
    b = pd.DataFrame({"v": ["b", "a"], "k": [2, 1]})
    assert workloads.digest(workloads.frame_rows(a)) == workloads.digest(workloads.frame_rows(b))


def test_blocks_are_seeded_and_once_ops_end_the_first_block():
    w = workloads.Workload("w", ["a"], ["a", "b", "c", "d"], 50.0, once=["p", "q"])
    first, second = itertools.islice(workloads.blocks(w, 5), 2)
    assert sorted(first[:4]) == ["a", "b", "c", "d"] and first[4:] == ["p", "q"]
    assert sorted(second) == ["a", "b", "c", "d"]
    again = list(itertools.islice(workloads.blocks(w, 5), 2))
    assert again == [first, second]
    orders = {tuple(next(workloads.blocks(w, s))) for s in range(20)}
    assert len(orders) > 1


def test_settle_ops_are_second_calls_of_timed_kinds():
    for w in workloads.WORKLOADS.values():
        assert set(w.settle) <= set(w.setup) & set(w.block)
    assert workloads.WORKLOADS["dashboard"].settle


def test_dashboard_tail_follows_the_ten_beyond_rule():
    w = workloads.WORKLOADS["dashboard"]
    assert stats.tail_percentile(len(w.block)) == w.tail_pct


def test_every_layer_op_is_in_a_workload():
    ops = {k for w in workloads.WORKLOADS.values() for k in w.setup + w.block + w.once}
    # operators.ivm, streaming.upsert, streaming.stateful, sources.layout
    assert set(workloads.WAREHOUSE_PIPELINES) <= ops
    assert workloads.ETL in ops
    assert set(workloads.CORPUS_QUERIES) <= ops
