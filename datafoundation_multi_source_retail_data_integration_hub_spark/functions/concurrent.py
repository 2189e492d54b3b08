"""Overlap independent Spark actions: the package's one thread pool.

``overlap(spark, *thunks)`` runs each thunk on its own thread and returns
their results in argument order. Spark's scheduler interleaves the jobs
the thunks submit, so a chain of short, independent actions costs about
its longest member instead of the sum of their job floors.

Contract:

- every thunk runs under the caller's local properties (job group,
  description, scheduler pool), so its jobs are attributed to the
  calling query;
- while an overlap runs on a session, ``session.scoped_confs`` refuses to
  enter on that same session, so no conf changes under a running thunk.
  A ``foreachBatch`` handler's cloned session is a different session;
- when a thunk raises, the others still run to completion, then the
  first failure in argument order is raised.
"""

from __future__ import annotations

import threading
from collections import Counter
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from typing import Any

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

_LOCK = threading.Lock()
_IN_FLIGHT: Counter[int] = Counter()


def _session_key(spark: SparkSession) -> int:
    # identity of the JVM session (SparkSession does not override hashCode)
    return spark._jsparkSession.hashCode()


def overlapping(spark: SparkSession) -> bool:
    """True while an ``overlap`` runs on ``spark``'s JVM session."""
    with _LOCK:
        return _IN_FLIGHT[_session_key(spark)] > 0


def overlap(spark: SparkSession, *thunks: Callable[[], Any]) -> list[Any]:
    """Run ``thunks`` concurrently, one thread each; results in argument
    order."""
    # one wrap per thunk: each wrap clones the caller's properties, and a
    # clone shared between threads would let one thunk's SQL execution id
    # leak onto another's jobs
    targets = [inheritable_thread_target(spark)(t) for t in thunks]
    key = _session_key(spark)
    with _LOCK:
        _IN_FLIGHT[key] += 1
    try:
        with ThreadPoolExecutor(max_workers=len(targets)) as pool:
            futures = [pool.submit(t) for t in targets]
        return [f.result() for f in futures]
    finally:
        with _LOCK:
            _IN_FLIGHT[key] -= 1
            if not _IN_FLIGHT[key]:
                del _IN_FLIGHT[key]
