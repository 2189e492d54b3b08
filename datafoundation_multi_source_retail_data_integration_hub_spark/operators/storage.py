"""The package's one cache: persisted intermediates and memoized values.

``persist_tracked(df)`` persists an operator intermediate (shingle
postings, signatures, vector working sets) so a multi-consumer plan
computes it once. ``memo(spark, lifetime, key, build)`` returns the value
``build()`` made for ``key`` the first time it was asked for.
``prepared(name, query)`` wraps a query callable so a pure build's
analyzed plan is reused within the session.

Contract:

- entries are keyed ``(lifetime, applicationId, *key)``, so a new
  SparkSession never sees another application's frames or blocks; one
  module lock guards the store;
- each key has its own build lock: concurrent first calls with the same
  key run ``build`` once, calls with different keys build concurrently,
  and a ``build`` may call ``memo`` for another key (no other lock is held
  across ``build``);
- ``RUN`` entries live until the next ``unpersist_all()``, which also
  unpersists every ``persist_tracked`` frame; ``SESSION`` entries live as
  long as the process, scoped by application id;
- a ``SESSION`` entry may hold data blocks: a frame its build
  localCheckpointed (the initial SCD2 dims of ``queries/warehouse.py``,
  the PQ, IVF and MinHash corpus indexes of ``operators/pq.py``,
  ``similarity.py`` and ``dedup.py``). Its key names every input the
  data depends on — a corpus index names the corpus file's
  ``(path, size, mtime_ns)`` — so a replaced input builds a new entry
  and never hits the old one, whose blocks stay until the process ends.
  A build that persists a working set of its own releases it before it
  returns;
- a prepared read takes no build lock: concurrent first calls each build,
  and the first pure plan stored is the one kept.

Releasing a persisted frame before a consuming action is still correct
(Spark recomputes it), so ``unpersist_all`` is storage hygiene between
runs, never a correctness step.
"""

from __future__ import annotations

import threading
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

RUN = "run"
SESSION = "session"

_LOCK = threading.Lock()
_ENTRIES: dict[tuple, Any] = {}
_BUILD_LOCKS: dict[tuple, threading.Lock] = {}
_PERSISTED: list[DataFrame] = []
# bumped by every ``RUN`` lookup and every ``persist_tracked``: a build
# that moves it depends on state ``unpersist_all`` releases
_run_touches = 0
# jobs submitted while ``SESSION`` builds ran leave a prepared read pure:
# running builds, the job id they began at, jobs of finished ones
_session_builds = _session_from = _session_jobs = 0


def memo(
    spark: SparkSession, lifetime: str, key: tuple, build: Callable[[], Any]
) -> Any:
    """The value cached under ``key`` for ``lifetime``, built on first use."""
    global _run_touches
    assert lifetime in (RUN, SESSION), lifetime
    full = (lifetime, spark.sparkContext.applicationId, *key)
    with _LOCK:
        if lifetime == RUN:
            _run_touches += 1
        if full in _ENTRIES:
            return _ENTRIES[full]
        build_lock = _BUILD_LOCKS.setdefault(full, threading.Lock())
    with build_lock:
        with _LOCK:
            if full in _ENTRIES:
                return _ENTRIES[full]
        session = int(lifetime == SESSION)
        _session_build(spark, session)
        try:
            value = build()
        finally:
            _session_build(spark, -session)
        with _LOCK:
            _ENTRIES[full] = value
            del _BUILD_LOCKS[full]
    return value


def prepared(
    name: str, query: Callable[[SparkSession, str], DataFrame]
) -> Callable[[SparkSession, str], DataFrame]:
    """``query`` as a prepared read: a build that submits no Spark job
    outside ``SESSION`` builds (a first table load or index build may run
    jobs) and uses no ``RUN`` entry or tracked persist is kept as its
    analyzed plan, a ``SESSION`` entry keyed ``("read", name, sf_dir)``.
    Every later call returns a fresh ``DataFrame`` over that plan, bound
    to the caller's session, so optimization, physical planning, AQE and
    execution still run per call. The plan may read the data blocks of a
    ``SESSION`` entry (a corpus index, an initial dim), but no shuffle,
    broadcast or stage output of an earlier call is reused. A build that
    breaks the rule (a pipeline, a write, a stream, a corpus op that
    persists its intermediates) is returned as it is and built again on
    the next call.

    Contract: a prepared read stays valid while the files under ``sf_dir``
    do not change within the session, the same contract as the
    ``("table", sf_dir, name)`` relations it is built from. Its exprIds
    repeat across calls. Job ids are process-wide: a job another thread
    submits during a build makes the build look impure, and no job
    submitted while any ``SESSION`` build runs is counted."""

    def call(spark: SparkSession, sf_dir: str) -> DataFrame:
        full = (SESSION, spark.sparkContext.applicationId, "read", name, sf_dir)
        with _LOCK:
            plan = _ENTRIES.get(full)
        if plan is not None:
            jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
                spark._jsparkSession, plan
            )
            return DataFrame(jdf, spark)
        before = _marks(spark)
        df = query(spark, sf_dir)
        if _marks(spark) == before:
            plan = df._jdf.queryExecution().analyzed()
            with _LOCK:
                _ENTRIES.setdefault(full, plan)
        return df

    return call


def _next_job(spark: SparkSession) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _session_build(spark: SparkSession, step: int) -> None:
    """Enter (``step=1``) or leave (``-1``) a ``SESSION`` build; nested and
    overlapping builds count their jobs once."""
    global _session_builds, _session_from, _session_jobs
    if step:
        with _LOCK:
            jobs = _next_job(spark)
            _session_from = jobs if _session_builds == 0 else _session_from
            _session_builds += step
            _session_jobs += jobs - _session_from if _session_builds == 0 else 0


def _marks(spark: SparkSession) -> tuple[int, int]:
    """(Spark jobs submitted outside ``SESSION`` builds, ``RUN`` touches):
    equal before and after a build when the build ran no job of its own
    and used no ``RUN`` state."""
    with _LOCK:
        jobs = _next_job(spark)
        inside = _session_jobs + (jobs - _session_from if _session_builds else 0)
        return jobs - inside, _run_touches


def cached_keys(lifetime: str) -> list[tuple]:
    """The ``key`` of every entry held for ``lifetime``, any application."""
    with _LOCK:
        return [k[2:] for k in _ENTRIES if k[0] == lifetime]


def persist_tracked(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for ``unpersist_all``."""
    global _run_touches
    with _LOCK:
        _PERSISTED.append(df)
        _run_touches += 1
    return df.persist()


def tracked_count() -> int:
    """Number of frames ``unpersist_all`` would release."""
    with _LOCK:
        return len(_PERSISTED)


def unpersist_all() -> None:
    """Unpersist every tracked frame and drop every ``RUN`` entry."""
    with _LOCK:
        frames = _PERSISTED[::-1]
        _PERSISTED.clear()
        for k in [k for k in _ENTRIES if k[0] == RUN]:
            del _ENTRIES[k]
    for df in frames:
        df.unpersist()
