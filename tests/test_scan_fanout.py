"""Scan fan-out + scale-adaptive scoped partition helpers (r14).

The corpus parquet files are single-row-group, so scans run as one task
and any heavy projection fused into them is single-threaded;
``load_table_spread`` fixes that with a layout-derived repartition +
persisted barrier, and ``scaled_shuffle_partitions`` replaces fixed
scoped shuffle-partition constants (the sf10 sweep OOM'd pagerank's
old constant 4)."""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from datafoundation_multi_source_retail_data_integration_hub_spark.operators import (
    storage,
)
from datafoundation_multi_source_retail_data_integration_hub_spark.sources.tables import (
    load_table,
    load_table_spread,
    scaled_shuffle_partitions,
    scan_fanout,
    table_bytes,
)

from .conftest import SF_SMOKE


def test_scan_fanout_fires_on_single_row_group(spark):
    n = scan_fanout(spark, SF_SMOKE, "documents")
    assert n == spark.sparkContext.defaultParallelism


def test_scan_fanout_zero_when_layout_fans_wide(spark, tmp_path):
    # a table already laid out as >= cores row groups parallelizes
    # natively — the helper must return 0 (no extra exchange)
    cores = spark.sparkContext.defaultParallelism
    rows = 4 * cores
    tbl = pa.table({"id": list(range(rows))})
    path = str(tmp_path / "many.parquet")
    pq.write_table(tbl, path, row_group_size=1)
    assert pq.ParquetFile(path).metadata.num_row_groups >= cores
    assert scan_fanout(spark, str(tmp_path), "many") == 0


def test_scan_fanout_byte_gate_stops_the_listing(spark, tmp_path, monkeypatch):
    # every file is maxPartitionBytes long (sparse), so the gate is
    # crossed at the cores-th file; the listing must stop there instead
    # of walking the whole directory first
    cores = spark.sparkContext.defaultParallelism
    max_pb = int(
        spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    )
    table = tmp_path / "wide.parquet"
    table.mkdir()
    n_files = 2 * cores + 3
    for i in range(n_files):
        with open(table / f"part-{i:05d}.parquet", "wb") as f:
            f.truncate(max_pb)
    yielded = []
    real_scandir = os.scandir

    class CountingScandir:
        def __init__(self, path):
            self._it = real_scandir(path)

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self._it.close()

        def __iter__(self):
            for ent in self._it:
                yielded.append(ent.name)
                yield ent

    monkeypatch.setattr(os, "scandir", CountingScandir)
    assert scan_fanout(spark, str(tmp_path), "wide") == 0
    assert 0 < len(yielded) <= cores < n_files


def test_load_table_spread_same_rows_wider_layout(spark):
    plain = load_table(spark, SF_SMOKE, "documents")
    spread = load_table_spread(spark, SF_SMOKE, "documents")
    try:
        assert (
            spread.rdd.getNumPartitions()
            == spark.sparkContext.defaultParallelism
        )
        a = sorted(map(tuple, plain.collect()))
        b = sorted(map(tuple, spread.collect()))
        assert a == b
    finally:
        storage.unpersist_all()


def test_scaled_shuffle_partitions_floor_and_growth():
    docs = os.path.join(SF_SMOKE, "documents.parquet")
    size = os.path.getsize(docs)
    assert table_bytes(SF_SMOKE, "documents") == size
    # huge target -> the measured local floor wins
    assert scaled_shuffle_partitions(SF_SMOKE, ("documents",), 4) == 4
    # tiny target -> grows with input bytes (ceil division)
    grown = scaled_shuffle_partitions(
        SF_SMOKE, ("documents",), 4, target_bytes=1024
    )
    assert grown == max(4, -(-size // 1024))
    assert grown > 4


def test_scaled_shuffle_partitions_warns_on_missing_table():
    import warnings

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        got = scaled_shuffle_partitions(SF_SMOKE, ("no_such_table",), 7)
    assert got == 7
    assert any(
        issubclass(x.category, RuntimeWarning)
        and "falling back to the bench-scale floor" in str(x.message)
        for x in w
    )


def test_scaled_shuffle_partitions_cap_bounds_pathological_estimates():
    # a 1-byte target over any real file would explode the count; the
    # cap keeps a bad estimate from minting tens of thousands of
    # near-empty shuffle partitions
    got = scaled_shuffle_partitions(
        SF_SMOKE, ("documents",), 4, target_bytes=1, cap=64
    )
    assert got == 64


def test_scaled_shuffle_partitions_warns_when_cap_binds():
    import warnings

    with pytest.warns(RuntimeWarning, match="capped at 64"):
        scaled_shuffle_partitions(
            SF_SMOKE, ("documents",), 4, target_bytes=1, cap=64
        )
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        # below the cap: no warning
        assert scaled_shuffle_partitions(SF_SMOKE, ("documents",), 4) == 4


def test_spread_memo_shares_one_persisted_frame(spark):
    # two loads in one "query window" share the cached plan (new exprIds,
    # same storage); unpersist_all drops the RUN entry with the persist
    storage.unpersist_all()
    a = load_table_spread(spark, SF_SMOKE, "documents")
    n_after_first = len(storage.cached_keys(storage.RUN))
    b = load_table_spread(spark, SF_SMOKE, "documents")
    try:
        assert n_after_first == 1
        # second load hit the entry
        assert len(storage.cached_keys(storage.RUN)) == 1
        assert storage.tracked_count() == 1
        # fresh exprIds per caller: a self-join on equal ids must not
        # trip the ambiguous-self-join check
        assert a.schema == b.schema
        joined = a.join(b, a["doc_id"] == b["doc_id"], "inner")
        assert joined.count() == a.count()
    finally:
        storage.unpersist_all()
    assert not storage.cached_keys(storage.RUN)


def test_concurrent_first_loads_persist_the_spread_once(spark, monkeypatch):
    # two overlap thunks first-load the same table; a slow persist widens
    # the check-then-set window the key's build lock must close
    from datafoundation_multi_source_retail_data_integration_hub_spark.functions.concurrent import (
        overlap,
    )

    persist = storage.persist_tracked

    def slow_persist(df):
        time.sleep(0.3)
        return persist(df)

    storage.unpersist_all()
    monkeypatch.setattr(storage, "persist_tracked", slow_persist)
    try:
        overlap(
            spark,
            lambda: load_table_spread(spark, SF_SMOKE, "documents"),
            lambda: load_table_spread(spark, SF_SMOKE, "documents"),
        )
        assert storage.tracked_count() == 1
        assert len(storage.cached_keys(storage.RUN)) == 1
    finally:
        storage.unpersist_all()
