"""Contract of ``operators.storage``, the package's one cache: one build
per key under concurrent first calls, concurrent builds for different
keys, nested ``memo`` calls, ``unpersist_all`` dropping ``RUN`` entries
and tracked persists while ``SESSION`` entries stay, and prepared reads:
a pure build is analyzed once per session and executed on every call."""

from __future__ import annotations

import ast
import pathlib
import re
import shutil
import sys
import time
import uuid

from pyspark import SparkContext

import __spark_entry__ as entry
import datafoundation_multi_source_retail_data_integration_hub_spark as pkg
from datafoundation_multi_source_retail_data_integration_hub_spark.functions.concurrent import (
    overlap,
)
from datafoundation_multi_source_retail_data_integration_hub_spark.operators import (
    clustering,
    storage,
)
from datafoundation_multi_source_retail_data_integration_hub_spark.queries import (
    relational,
    textops,
    warehouse,
)
from datafoundation_multi_source_retail_data_integration_hub_spark.sources.tables import (
    load_table,
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


def _counting(monkeypatch, module, name, calls):
    """Route ``module.QUERIES[name]`` through a wrapper that counts builds."""
    build = module.QUERIES[name]

    def counted(spark, sf_dir):
        calls.append(1)
        return build(spark, sf_dir)

    monkeypatch.setitem(module.QUERIES, name, counted)


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _collect_jobs(spark, df) -> int:
    before = _jobs(spark)
    df.toPandas()
    return _jobs(spark) - before


def test_warm_pure_read_is_not_rebuilt_and_executes_afresh(spark, monkeypatch):
    calls = []
    _counting(monkeypatch, relational, "kpi_summary", calls)
    kpi = entry.queries()["kpi_summary"]
    kpi(spark, SF_SMOKE).toPandas()  # the session's first call may run jobs
    first = kpi(spark, SF_SMOKE)
    first_jobs = _collect_jobs(spark, first)
    calls.clear()
    second = kpi(spark, SF_SMOKE)
    assert calls == []
    assert _collect_jobs(spark, second) == first_jobs
    assert second.sparkSession is spark
    assert not first._jdf.queryExecution().equals(second._jdf.queryExecution())


def test_builds_that_run_jobs_or_persist_are_rebuilt(spark, monkeypatch):
    probe_calls, jaccard_calls = [], []

    def counting_probe(spark, sf_dir):
        probe_calls.append(1)
        df = load_table(spark, sf_dir, "region")
        df.count()
        return df

    monkeypatch.setitem(relational.QUERIES, "zz_counting_probe", counting_probe)
    # the postings self-join persists its shingle postings per call
    _counting(monkeypatch, textops, "doc_ngram_jaccard_pairs", jaccard_calls)
    qs = entry.queries()
    for _ in range(3):
        qs["zz_counting_probe"](spark, SF_SMOKE).collect()
    for _ in range(2):
        qs["doc_ngram_jaccard_pairs"](spark, SF_SMOKE).collect()
        storage.unpersist_all()
    assert len(probe_calls) == 3
    assert len(jaccard_calls) == 2


def test_cold_build_is_prepared_on_its_next_call(spark, monkeypatch, tmp_path):
    # a copy of the corpus is a new sf_dir: every SESSION entry is cold
    sf_dir = str(tmp_path / "sf")
    shutil.copytree(SF_SMOKE, sf_dir)
    calls = []
    _counting(monkeypatch, warehouse, "dashboard_extract", calls)
    extract = entry.queries()["dashboard_extract"]
    for _ in range(3):
        extract(spark, sf_dir).collect()
    # the cold call checkpoints the initial dims inside a SESSION build,
    # so its own build is the one kept
    assert len(calls) == 1
    assert ("read", "dashboard_extract", sf_dir) in storage.cached_keys(storage.SESSION)


def test_first_table_load_leaves_the_build_pure(spark, monkeypatch, tmp_path):
    # a fresh copy of the corpus: the first call loads every table cold,
    # and those jobs run inside SESSION builds
    sf_dir = str(tmp_path / "sf")
    shutil.copytree(SF_SMOKE, sf_dir)
    calls = []
    _counting(monkeypatch, relational, "flagship_star_revenue", calls)
    star = entry.queries()["flagship_star_revenue"]
    before = _jobs(spark)
    star(spark, sf_dir).collect()
    assert _jobs(spark) > before + 1  # the cold build ran jobs of its own loads
    calls.clear()
    star(spark, sf_dir).collect()
    assert calls == []


def test_new_application_builds_again(spark, monkeypatch):
    calls = []
    _counting(monkeypatch, relational, "kpi_summary", calls)
    kpi = entry.queries()["kpi_summary"]
    kpi(spark, SF_SMOKE)
    kpi(spark, SF_SMOKE)
    calls.clear()
    monkeypatch.setattr(SparkContext, "applicationId", property(lambda self: "other-app"))
    kpi(spark, SF_SMOKE)
    assert calls == [1]


def test_concurrent_calls_of_one_prepared_read(spark, monkeypatch):
    calls = []

    def probe(spark, sf_dir):
        calls.append(1)
        return load_table(spark, sf_dir, "nation").groupBy("n_regionkey").count()

    monkeypatch.setitem(relational.QUERIES, "zz_concurrent_probe", probe)
    call = entry.queries()["zz_concurrent_probe"]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        counts = overlap(
            spark, *[lambda: sorted(call(spark, SF_SMOKE).collect()) for _ in range(8)]
        )
    finally:
        sys.setswitchinterval(switch)
    assert all(c == counts[0] for c in counts) and len(counts[0]) == 5
    # a build that overlapped another thread's job looks impure and is not
    # kept; once calls stop overlapping, one build is kept for good
    call(spark, SF_SMOKE)
    built = len(calls)
    assert built <= 9
    call(spark, SF_SMOKE)
    assert len(calls) == built
