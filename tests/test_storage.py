"""Contract of ``operators.storage``, the package's one cache: one build
per key under concurrent first calls, concurrent builds for different
keys, nested ``memo`` calls, and ``unpersist_all`` dropping ``RUN``
entries and tracked persists while ``SESSION`` entries stay."""

from __future__ import annotations

import ast
import pathlib
import re
import time
import uuid

import datafoundation_multi_source_retail_data_integration_hub_spark as pkg
from datafoundation_multi_source_retail_data_integration_hub_spark.functions.concurrent import (
    overlap,
)
from datafoundation_multi_source_retail_data_integration_hub_spark.operators import (
    clustering,
    storage,
)
from datafoundation_multi_source_retail_data_integration_hub_spark.queries import (
    warehouse,
)

from .conftest import SF_SMOKE


def _slow(seconds, fn, calls):
    def wrapped(*args, **kwargs):
        calls.append(1)
        time.sleep(seconds)
        return fn(*args, **kwargs)

    return wrapped


def test_concurrent_cold_dim_builds_once(spark, monkeypatch):
    calls = []
    monkeypatch.setattr(
        warehouse,
        "scd2_initial_load",
        _slow(0.3, warehouse.scd2_initial_load, calls),
    )
    cold_date = "1999-12-31"  # no query uses this date, so the key is cold

    def dim():
        return warehouse._initial_dim(
            spark, SF_SMOKE, "customer", warehouse.CUSTOMER_CFG, cold_date
        )

    a, b = overlap(spark, dim, dim)
    assert len(calls) == 1
    assert a is b


def test_different_keys_build_concurrently(spark):
    tag = uuid.uuid4().hex

    def entry(i):
        return lambda: storage.memo(
            spark, storage.RUN, (tag, i), lambda: time.sleep(0.3) or i
        )

    t0 = time.perf_counter()
    got = overlap(spark, entry(0), entry(1))
    assert time.perf_counter() - t0 < 0.5
    assert got == [0, 1]
    storage.unpersist_all()


def test_build_may_call_memo_for_another_key(spark):
    tag = uuid.uuid4().hex

    def outer():
        return storage.memo(spark, storage.SESSION, (tag, "inner"), lambda: 1) + 1

    assert storage.memo(spark, storage.SESSION, (tag, "outer"), outer) == 2
    assert storage.memo(spark, storage.SESSION, (tag, "outer"), lambda: 0) == 2


def test_unpersist_all_keeps_session_entries_only(spark, monkeypatch):
    df = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 3), 1.0, float(i)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    cache_key = ("registry-test", uuid.uuid4().hex)
    fit = clustering.kmeans_fit(df, k=2, n_iter=1, dim=4, cache_key=cache_key)
    storage.persist_tracked(df)
    storage.memo(spark, storage.RUN, (cache_key, "run"), lambda: 1)
    assert storage.tracked_count() >= 1

    storage.unpersist_all()
    assert storage.tracked_count() == 0
    assert storage.cached_keys(storage.RUN) == []

    def no_fit(*args, **kwargs):
        raise AssertionError("a SESSION fit was rebuilt after unpersist_all")

    monkeypatch.setattr(clustering, "seed_centroids", no_fit)
    again = clustering.kmeans_fit(df, k=2, n_iter=1, dim=4, cache_key=cache_key)
    assert again == fit


def test_cache_state_lives_in_one_module():
    # module-level memo dicts or memo locks outside the registry would
    # bring back per-module lifetimes; the overlap primitive's in-flight
    # counter lock is not a cache
    allowed_locks = {"functions/concurrent.py", "operators/storage.py"}
    root = pathlib.Path(pkg.__file__).parent
    found = []
    for p in sorted(root.rglob("*.py")):
        rel = str(p.relative_to(root))
        for node in ast.parse(p.read_text()).body:
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign):
                targets, value = [node.target], node.value
            else:
                continue
            for t in targets:
                if not isinstance(t, ast.Name):
                    continue
                if re.fullmatch(r"_[A-Z_]*(CACHE|MEMO)", t.id):
                    if rel != "operators/storage.py":
                        found.append(f"{rel}::{t.id}")
                is_lock = (
                    isinstance(value, ast.Call)
                    and ast.unparse(value.func).split(".")[-1] in ("Lock", "RLock")
                )
                if is_lock and rel not in allowed_locks:
                    found.append(f"{rel}::{t.id}")
    assert found == []
