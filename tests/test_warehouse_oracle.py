"""Warehouse-build queries hash-match their DuckDB oracles at sf0.001."""

from __future__ import annotations

import pytest

from datafoundation_multi_source_retail_data_integration_hub_spark.queries import warehouse

from .conftest import SF_SMOKE
from .oracle import compare_case, oracle_cases


@pytest.mark.parametrize("name,prepared", oracle_cases(warehouse))
def test_warehouse_query_matches_oracle(spark, name, prepared):
    compare_case(spark, SF_SMOKE, warehouse, name, prepared)


def test_bucketed_join_plan_has_no_exchange(spark):
    """The point of the bucketed layout: the orders<->lineitem join reads
    co-located buckets, so the physical plan is a SortMergeJoin with ZERO
    Exchange — the write-time shuffle replaced every downstream join
    shuffle on the key. (The oracle parity of the same frame is covered by
    the parametrized test above.)"""
    import contextlib
    import io
    import uuid

    db = f"bucketed_plan_{uuid.uuid4().hex[:12]}"
    try:
        # assert on the JOIN subtree: the downstream groupBy legitimately
        # adds its own aggregation exchange
        df = warehouse._bucketed_join(spark, SF_SMOKE, db)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        # the scans really are the bucketed outputs, not a fallback path
        assert "Bucketed: true" in plan
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_partitioned_fact_prunes_at_source(spark):
    """The year predicate must reach the scan as a PartitionFilter
    (directory-level pruning), not a post-scan Filter — at 100 TB that is
    the difference between reading one year and the whole fact."""
    import contextlib
    import io
    import re
    import uuid

    db = f"prune_plan_{uuid.uuid4().hex[:12]}"
    try:
        df = warehouse._partitioned_fact(spark, SF_SMOKE, db)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert m, plan
        assert "order_year" in m.group(1)
        assert str(warehouse.PRUNE_YEAR) in m.group(1)
        # the partition column must NOT appear as a post-scan filter
        data_filters = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
        if data_filters:
            assert "order_year" not in data_filters.group(1)
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_dpp_injects_runtime_partition_filter(spark):
    """Dynamic partition pruning: the selective predicate sits on the year
    DIM's attribute, never on the fact — only Catalyst's DPP can prune the
    fact's year partitions, by injecting a runtime subquery filter into
    the scan's PartitionFilters. Assert the injection happened; the
    values themselves are gated by the parametrized oracle test."""
    import re
    import uuid

    db = f"dpp_plan_{uuid.uuid4().hex[:12]}"
    try:
        df = warehouse._dpp_filtered_sales(spark, SF_SMOKE, db)
        # DPP is decided during (adaptive) physical planning — read the
        # executed plan, not explain(), so AQE re-optimization is included
        plan = df._jdf.queryExecution().executedPlan().toString()
        m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert m, plan
        assert "dynamicpruning" in m.group(1), m.group(1)
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_bloom_filter_injected_and_confs_restored(spark):
    """Runtime bloom-filter injection: under the scoped at-scale confs
    (broadcast off, probe-size floor lowered) the optimized plan carries
    a might_contain semi-join predicate on the lineitem probe side; and
    the scope restores every conf afterwards. Values are gated by the
    parametrized oracle test."""
    from datafoundation_multi_source_retail_data_integration_hub_spark.session import (
        scoped_confs,
    )

    before = {
        k: spark.conf.get(k, None) for k in warehouse.BLOOM_JOIN_CONFS
    }
    with scoped_confs(spark, warehouse.BLOOM_JOIN_CONFS):
        df = warehouse._bloom_fact_join(spark, SF_SMOKE)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
    after = {k: spark.conf.get(k, None) for k in warehouse.BLOOM_JOIN_CONFS}
    assert after == before
    # without the scope the toy corpus broadcasts the dim - no bloom filter
    plain = warehouse._bloom_fact_join(spark, SF_SMOKE)
    assert "might_contain" not in plain._jdf.queryExecution().optimizedPlan().toString()
