"""The one-exchange ``scd2_merge`` equals the join-chain reference
(``tests/scd2_reference.py``) row for row, and plans one hash exchange.

Drawn cases cover null natural keys, null attributes, several current
variants per key (the initial load keeps every distinct tuple), variants
the batch re-asserts, and two chained merges. Inputs are either JVM local
relations (known size: the single-partition numbering path) or RDD-backed
frames (unknown size: the distributed numbering path).
"""

from __future__ import annotations

import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from datafoundation_multi_source_retail_data_integration_hub_spark.functions.local import (
    local_frame,
)
from datafoundation_multi_source_retail_data_integration_hub_spark.operators.scd2 import (
    SCD2Config,
    scd2_initial_load,
    scd2_merge,
)

from .scd2_reference import join_chain_merge

CFG = SCD2Config(natural_key="k", compare_cols=("v1", "v2"), surrogate_key="sk")
SCHEMA = "k string, v1 string, v2 string"

keys = st.sampled_from(["K0", "K1", "K2", "K3", None])
vals = st.sampled_from(["a", "b", None])
batch = st.lists(st.tuples(keys, vals, vals), min_size=0, max_size=10)


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def _frame(spark, rows, local):
    return local_frame(spark, rows, SCHEMA) if local else spark.createDataFrame(rows, SCHEMA)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    b0=batch.filter(bool),
    b1=batch,
    b2=batch,
    local=st.booleans(),
)
def test_merge_equals_the_join_chain(spark, b0, b1, b2, local):
    dim = scd2_initial_load(_frame(spark, b0, local), CFG, "2026-01-01").localCheckpoint()
    inc1, inc2 = _frame(spark, b1, local), _frame(spark, b2, local)
    got1 = scd2_merge(dim, inc1, CFG, "2026-02-01").localCheckpoint()
    want1 = join_chain_merge(dim, inc1, CFG, "2026-02-01").localCheckpoint()
    assert _rows(got1) == _rows(want1)
    got2 = scd2_merge(got1, inc2, CFG, "2026-03-01")
    want2 = join_chain_merge(want1, inc2, CFG, "2026-03-01")
    assert got2.dtypes == want2.dtypes
    assert _rows(got2) == _rows(want2)


def test_fixed_cases_equal_the_join_chain(spark):
    b0 = [
        ("K1", "a", "a"), ("K1", "b", "a"),  # two current variants of one key
        ("K2", None, "a"), (None, "a", "a"), ("K3", "a", None),
    ]
    b1 = [
        ("K1", "a", "a"),  # re-asserts one variant of a changed key
        ("K1", "c", "c"),  # changes K1: ("K1", "b", "a") expires
        ("K2", None, "a"),  # null attribute, unchanged
        (None, "a", "a"),  # null key: inserted again, never matched
        ("K3", "a", None), ("K3", "a", None),  # duplicate, unchanged
        ("K4", None, None),  # new key
    ]
    dim = scd2_initial_load(local_frame(spark, b0, SCHEMA), CFG, "2026-01-01")
    inc = local_frame(spark, b1, SCHEMA)
    got = scd2_merge(dim, inc, CFG, "2026-02-01")
    assert _rows(got) == _rows(join_chain_merge(dim, inc, CFG, "2026-02-01"))
    expired = {(r["k"], r["v1"], r["v2"]) for r in got.collect() if r["is_current"] == 0}
    assert expired == {("K1", "b", "a")}
    assert len(got.collect()) == 5 + 3  # K1 change, null-key and K4 inserts


def test_merge_plans_one_hash_exchange_on_the_natural_key(spark):
    dim = scd2_initial_load(
        local_frame(spark, [("K1", "a", "a"), ("K2", "b", None)], SCHEMA), CFG, "2026-01-01"
    ).localCheckpoint()
    inc = local_frame(spark, [("K1", "c", "a"), ("K3", None, None)], SCHEMA)
    merged = scd2_merge(dim, inc, CFG, "2026-02-01")
    merged.collect()
    plan = merged._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    # a reused exchange prints as "ReusedExchange [...], Exchange ...":
    # count only the exchange nodes themselves
    exchanges = re.findall(r"^[\s:+\-|*()0-9]*Exchange hashpartitioning\((\w+)#", final, re.M)
    assert exchanges == ["k"], final
