"""Contract of ``functions.concurrent.overlap``, the package's one way to
run independent Spark actions side by side: argument-order results,
failure after the siblings finish, the caller's job group on every
thunk's jobs, and no session conf change while an overlap runs."""

from __future__ import annotations

import pathlib
import sys
import threading
import time
import uuid

import pytest

import datafoundation_multi_source_retail_data_integration_hub_spark as pkg
from datafoundation_multi_source_retail_data_integration_hub_spark.functions.concurrent import (
    overlap,
    overlapping,
)
from datafoundation_multi_source_retail_data_integration_hub_spark.session import (
    scoped_confs,
)

CONF = "spark.sql.shuffle.partitions"


@pytest.fixture
def job_group(spark):
    sc = spark.sparkContext
    group = f"overlap-test-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "overlap contract test")
    try:
        yield group
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_results_come_back_in_argument_order(spark):
    def after(delay, value):
        def thunk():
            time.sleep(delay)
            return value

        return thunk

    # the first thunk finishes last
    got = overlap(spark, after(0.3, "a"), after(0.0, "b"), after(0.1, "c"))
    assert got == ["a", "b", "c"]
    assert not overlapping(spark)


def test_failure_is_raised_after_siblings_finish(spark):
    finished = threading.Event()

    def fails():
        raise ValueError("first")

    def slow():
        time.sleep(0.3)
        finished.set()
        return 1

    def fails_later():
        time.sleep(0.1)
        raise KeyError("second")

    with pytest.raises(ValueError, match="first"):
        overlap(spark, fails, slow, fails_later)
    assert finished.is_set()
    assert not overlapping(spark)


def test_thunk_jobs_keep_the_callers_job_group(spark, job_group):
    tracker = spark.sparkContext.statusTracker()

    # a bare thread loses the group: the case overlap exists to fix
    t = threading.Thread(target=lambda: spark.range(10).count())
    t.start()
    t.join(timeout=60)
    assert not t.is_alive()
    assert list(tracker.getJobIdsForGroup(job_group)) == []

    overlap(
        spark,
        lambda: spark.range(100).count(),
        lambda: spark.range(50).collect(),
    )
    assert len(tracker.getJobIdsForGroup(job_group)) >= 2


def test_scoped_confs_refused_inside_an_overlap_on_the_same_session(spark):
    before = spark.conf.get(CONF)

    def same_session():
        with scoped_confs(spark, {CONF: "3"}):
            pass

    with pytest.raises(RuntimeError, match="overlap"):
        overlap(spark, same_session)
    assert spark.conf.get(CONF) == before

    other = spark.newSession()

    def other_session():
        with scoped_confs(other, {CONF: "3"}):
            return other.conf.get(CONF)

    assert overlap(spark, other_session) == ["3"]
    assert spark.conf.get(CONF) == before
    # outside any overlap the scope works as before
    with scoped_confs(spark, {CONF: "3"}):
        assert spark.conf.get(CONF) == "3"
    assert spark.conf.get(CONF) == before


def test_in_flight_count_survives_concurrent_overlaps(spark):
    # more callers than cores, frequent thread switches: a lost update
    # on the in-flight count would let a thunk see no overlap running,
    # or leave the session marked busy afterwards
    seen = []
    errors = []

    def caller():
        try:
            for _ in range(10):
                seen.extend(
                    overlap(spark, *(lambda: overlapping(spark),) * 3)
                )
        except Exception as exc:  # surfaced by the assert below
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=caller) for _ in range(12)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(seen) == 12 * 10 * 3 and all(seen)
    assert not overlapping(spark)


def test_foreach_batch_clone_is_a_different_session(spark, tmp_path):
    # a stream run inside an overlap: its handler's cloned session may
    # scope confs and overlap its own actions
    src = str(tmp_path / "src")
    spark.range(20).write.parquet(src)
    seen = []

    def handler(batch, batch_id):
        s = batch.sparkSession
        with scoped_confs(s, {CONF: "2"}):
            seen.append(overlap(s, batch.count, lambda: s.conf.get(CONF)))

    def run():
        q = (
            spark.readStream.schema("id long")
            .parquet(src)
            .writeStream.foreachBatch(handler)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    overlap(spark, run)
    assert seen == [[20, "2"]]


def test_thread_pool_lives_in_one_module():
    root = pathlib.Path(pkg.__file__).parent
    users = sorted(
        str(p.relative_to(root))
        for p in root.rglob("*.py")
        if "ThreadPoolExecutor" in p.read_text()
    )
    assert users == ["functions/concurrent.py"]
