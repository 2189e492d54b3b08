"""The package's one cache: persisted intermediates and memoized values.

``persist_tracked(df)`` persists an operator intermediate (shingle
postings, signatures, vector working sets) so a multi-consumer plan
computes it once. ``memo(spark, lifetime, key, build)`` returns the value
``build()`` made for ``key`` the first time it was asked for.

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
  long as the process, scoped by application id.

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


def memo(
    spark: SparkSession, lifetime: str, key: tuple, build: Callable[[], Any]
) -> Any:
    """The value cached under ``key`` for ``lifetime``, built on first use."""
    assert lifetime in (RUN, SESSION), lifetime
    full = (lifetime, spark.sparkContext.applicationId, *key)
    with _LOCK:
        if full in _ENTRIES:
            return _ENTRIES[full]
        build_lock = _BUILD_LOCKS.setdefault(full, threading.Lock())
    with build_lock:
        with _LOCK:
            if full in _ENTRIES:
                return _ENTRIES[full]
        value = build()
        with _LOCK:
            _ENTRIES[full] = value
            del _BUILD_LOCKS[full]
    return value


def cached_keys(lifetime: str) -> list[tuple]:
    """The ``key`` of every entry held for ``lifetime``, any application."""
    with _LOCK:
        return [k[2:] for k in _ENTRIES if k[0] == lifetime]


def persist_tracked(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for ``unpersist_all``."""
    with _LOCK:
        _PERSISTED.append(df)
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
