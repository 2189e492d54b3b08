"""SparkSession factory.

Local testing runs a single JVM (``local[N]``); production target is a
multi-executor cluster reading ~100 TB. Every knob below is chosen so the
same code scales: AQE re-plans shuffles at runtime (partition coalescing,
skew-join splitting), shuffle partitions default to the core count locally
but should be sized to ~128 MB per partition at cluster scale, and the
session timezone is pinned to UTC so timestamp semantics are stable across
engines (the DuckDB oracle is UTC-naive).
"""

from __future__ import annotations

import contextlib
import os
from collections.abc import Iterator

from pyspark.sql import SparkSession

from .functions.concurrent import overlapping

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# Entries of Spark's generated-class cache (static; Spark's default is 100).
# The 9 dashboard query kinds compile 222 whole-stage and expression classes
# cold, the warehouse_etl ops about 290, so at 100 every warm pass over the
# dashboard recompiled 166-168 of them. 2000 holds both working sets with
# headroom; a warm pass then compiles nothing
# (tests/test_codegen_cache.py).
CODEGEN_CACHE_ENTRIES = 2000


def get_spark(
    app_name: str = "datafoundation_hub_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Scale notes (100 TB target):
    - ``spark.sql.adaptive.enabled``: AQE coalesces small shuffle partitions
      and splits skewed ones at runtime; mandatory at scale, harmless locally.
    - ``spark.sql.shuffle.partitions`` is only the *initial* number under AQE;
      on a 1000-executor cluster raise it so each partition is ~128 MB.
    - ``spark.sql.files.maxPartitionBytes`` (default 128 MB) governs scan
      parallelism; left at default — correct for both scales.
    - Arrow execution accelerates any pandas interchange (``toPandas``,
      pandas UDFs) by columnar batch transfer.
    - ``spark.sql.codegen.cache.maxEntries`` is static: it takes effect only
      when this call starts the JVM's first session, and a session built
      elsewhere keeps Spark's default.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # corpus parquet stores plain-micros timestamps (no UTC flag);
        # read them as session-TZ TIMESTAMP at scan level (keeps pushdown,
        # matches the UTC-naive DuckDB oracle since session TZ is UTC)
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 64k-row Arrow batches (default 10k): extract-shaped results
        # (~600k rows) measured ~25% faster end-to-end via toPandas, and
        # Pandas-UDF kernels see fewer, larger chunks. Per-batch memory
        # stays bounded (row width x 65536 ~ a few MB on every table here).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextlib.contextmanager
def scoped_confs(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set session confs for the duration of a block, restoring each to
    its prior value (or unsetting it) on exit.

    Catalyst reads confs at optimization time, not at DataFrame
    construction, so a plan that depends on the scoped values must be
    executed (e.g. ``localCheckpoint(eager=True)``) inside the block.

    Confs are session-global. Entering raises ``RuntimeError`` while a
    ``functions.concurrent.overlap`` runs on the same JVM session, so no
    conf changes under a running thunk; enter the scope around the
    overlap instead. Another session (``spark.newSession()``, a
    ``foreachBatch`` handler's clone) has its own confs and is not
    affected."""
    if overlapping(spark):
        raise RuntimeError(
            "scoped_confs: an overlap() is running on this session; enter "
            "the conf scope before the overlap starts, not inside a thunk"
        )
    saved: dict[str, str | None] = {}
    for k, v in confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, old in saved.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)
