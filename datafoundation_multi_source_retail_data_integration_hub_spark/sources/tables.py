"""Parquet test-corpus loaders.

The driver provisions a TPC-H-ish star corpus (see TESTDATA.md): one
parquet file per table under ``/root/testdata/sf{0.001,0.01,0.1}/``.
Parquet is the engine's native columnar format — scans get predicate
pushdown, column pruning, and vectorized decoding from Catalyst for free,
which is exactly the posture we want at 100 TB (the same loaders work on a
partitioned cloud-storage layout by pointing ``sf_dir`` at the dataset
root).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators import storage

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Event-time columns whose physical parquet encoding has drifted across
# corpus generations: TIMESTAMP(NANOS) (read as long via the legacy
# nanosAsLong conf, truncated to micros) and plain micros with no UTC flag
# (read as TIMESTAMP_NTZ by Spark 4). Both are normalized to TimestampType;
# the session timezone is pinned UTC (session.py), so the NTZ->TZ cast is a
# pure re-tag with identical wall-clock values — matching the UTC-naive
# DuckDB oracle exactly.
_EVENT_TIME_COLS = {"events": ("ts",)}


def _normalize_event_time(df: DataFrame, col: str) -> DataFrame:
    dt = df.schema[col].dataType
    if isinstance(dt, T.LongType):
        # nanos-as-long; integer division — double loses precision > 2^53
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if isinstance(dt, T.TimestampNTZType):
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one corpus table. Lazy — nothing is read until an action.

    The resolved relation is a ``SESSION`` entry: ``spark.read.parquet``
    lists files and reads footers eagerly, and a corpus table's plan never
    changes within a session. Each call returns a fresh ``toDF``
    re-projection, so every caller sees new attribute exprIds, as two
    independent reads would; otherwise two branches of one query derived
    from the same table (an SCD2 merge joining a dim and a batch both
    built from customer) share ids and trip Spark's ambiguous-self-join
    check."""

    def build() -> DataFrame:
        # Runtime-settable confs applied here (not only in the session
        # factory) because the driver harness builds its own SparkSession.
        # inferTimestampNTZ=false makes plain-micros parquet timestamps (no
        # UTC flag) scan directly as session-TZ TIMESTAMP — a scan-level
        # fix, so predicate pushdown on timestamp filters is preserved (a
        # post-scan NTZ->TZ cast would block it). Session TZ is pinned UTC,
        # so values are identical to the UTC-naive DuckDB oracle.
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        if name in _EVENT_TIME_COLS:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        for col in _EVENT_TIME_COLS.get(name, ()):
            df = _normalize_event_time(df, col)
        return df

    key = ("table", *table_identity(sf_dir, name))
    df = storage.memo(spark, storage.SESSION, key, build)
    return df.toDF(*df.columns)


def table_identity(sf_dir: str, name: str) -> tuple:
    """``(path, size, mtime_ns)`` of a corpus table: the key part that
    makes a replaced file a new entry, for relations and corpus indexes.
    A directory table reads its own stat, whose mtime moves when a file
    is added, removed or renamed in it. Where the path cannot be stat'ed
    (object stores, a missing table) the path alone is the identity."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(path)
    except OSError:
        return (path,)
    return (path, st.st_size, st.st_mtime_ns)


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Scan several corpus tables (all of them when ``names`` is empty)."""
    return {n: load_table(spark, sf_dir, n) for n in (names or TPCH_TABLES)}


def scan_fanout(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Round-robin partition count a compute-heavy projection over this
    table should spread to, or 0 when the scan already fans wide enough.

    Parquet scans parallelize at ROW-GROUP granularity: byte-range splits
    that contain no row-group start decode nothing, so a table written as
    one big row group (the single-file toy corpus) runs its entire scan —
    and any expensive per-row projection Catalyst fuses into that stage
    (tokenize/shingle/md5 pipelines, vector arithmetic) — on ONE core
    while the other 31 idle. Deriving the answer from the INPUT LAYOUT
    keeps the decision scale-adaptive (optimization guide §2/§6) instead
    of a local[32] constant:

    - total bytes >= cores x ``maxPartitionBytes`` → the scan fans wide
      natively; return 0 without touching footers. The directory listing
      stops at the file that crosses the gate, so a million-file table
      costs a few ``stat`` calls, not a full listing;
    - otherwise count row groups across the files (footer-only reads,
      bounded by the size gate) and spread to ``defaultParallelism``
      only when the layout provides fewer groups than cores.

    The exchange this buys is sized by the SMALL side of the tradeoff:
    it only ever fires on inputs under cores x 128 MB, so the shuffle
    moves at most a few GB once per query while unlocking a cores-fold
    speedup of the per-row work stacked above it.

    Known gap, deliberate: a table over the byte gate is assumed to fan
    wide without reading any footer, which is wrong for few-but-huge row
    groups. Spreading it would cache more than cores x maxPartitionBytes
    anyway; the fix at that scale is the writer bounding
    ``parquet.block.size``.
    """
    cores = spark.sparkContext.defaultParallelism
    try:
        max_pb = int(
            spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
        )
    except Exception:
        max_pb = 128 * 1024 * 1024
    gate = cores * max_pb
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        if os.path.isfile(path):
            files, total = [path], os.path.getsize(path)
        else:
            files, total = [], 0
            with os.scandir(path) as it:
                for ent in it:
                    if ent.is_file() and not ent.name.startswith(("_", ".")):
                        files.append(ent.path)
                        total += ent.stat().st_size
                        if total >= gate:
                            return 0
        if total >= gate:
            return 0
        import pyarrow.parquet as pq

        groups = 0
        for f in files:
            groups += pq.ParquetFile(f).metadata.num_row_groups
            if groups >= cores:
                return 0
        return cores
    except Exception:
        # non-posix storage (object stores) or unreadable footers: fall
        # back to the scan's native split behavior
        return 0


def load_table_spread(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``load_table`` + a scan-layout-adaptive round-robin repartition so
    expensive per-row projections stacked on the scan use every core.
    No-op (and zero extra plan nodes) when the input layout already
    yields at least ``defaultParallelism`` scan tasks.

    The repartitioned frame is PERSISTED (tracked; released by
    ``unpersist_all``), which matters twice over:

    - optimizer barrier: filters inferred above expensive derived
      columns (``InferFiltersFromGenerate`` on an explode, the shingle
      token-count gate) otherwise get alias-substituted and pushed
      below the exchange, re-running the whole tokenize/md5 pipeline
      INSIDE the single-task scan stage — measured +1.5 s on
      doc_contamination at sf0.1, exactly the §4.4 duplication shape
      with built-in expressions;
    - multi-branch queries (contamination's corpus/eval split, accuracy
      reports joining an exact twin) scan the table once instead of
      once per branch.

    Size safety: the fan-out only fires when the table is smaller than
    ``cores x maxPartitionBytes`` (see ``scan_fanout``), so the cached
    working set is bounded by the same gate and production-scale tables
    never take this path at all.

    The spread frame is a ``RUN`` entry, released with its persist by
    ``unpersist_all``: composite reports that run several spread-loading
    queries in one call (ann_quality_report runs the brute-force truth
    beside its own corpus load) share one cached copy and one exchange. Callers get a fresh ``toDF`` re-projection over the
    same cached plan, so self-joins across two loads stay unambiguous.
    """
    if not scan_fanout(spark, sf_dir, name):
        return load_table(spark, sf_dir, name)
    spread = storage.memo(
        spark,
        storage.RUN,
        ("spread", sf_dir, name),
        lambda: storage.persist_tracked(load_table_fanned(spark, sf_dir, name)),
    )
    return spread.toDF(*spread.columns)


def load_table_fanned(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``load_table`` with ``scan_fanout``'s round-robin repartition and
    no persist: the input of a ``SESSION`` index build, which persists
    its own working set for as long as the build runs."""
    df = load_table(spark, sf_dir, name)
    n = scan_fanout(spark, sf_dir, name)
    return df.repartition(n) if n else df


def table_bytes(sf_dir: str, *names: str) -> int:
    """Total on-disk bytes of the named corpus tables (file or dir)."""
    total = 0
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.isfile(path):
            total += os.path.getsize(path)
        elif os.path.isdir(path):
            with os.scandir(path) as it:
                for ent in it:
                    if ent.is_file() and not ent.name.startswith(("_", ".")):
                        total += ent.stat().st_size
    return total


def scaled_shuffle_partitions(
    sf_dir: str,
    names: tuple[str, ...],
    floor: int,
    target_bytes: int = 64 * 1024 * 1024,
    cap: int = 4096,
) -> int:
    """Scale-adaptive count for a SCOPED shuffle-partition override
    (optimization guide §2.2/§2.5): ``floor`` is the measured local
    optimum at bench scale (where near-empty partitions are pure
    task-launch overhead), growing with the input so a 100x corpus
    never sorts 100x the rows into the same fixed partition count.
    The r14 sf10 sweep caught exactly that failure: pagerank's scoped
    constant 4 OOM'd the edge-build sort at 60M lineitem rows
    (SparkOutOfMemoryError in UnsafeExternalSorter under the
    localCheckpoint unroll); bytes-derived counts keep per-task sort
    state bounded at any scale. Non-posix storage (object stores) and
    missing/renamed tables fall back to the floor — WITH a warning,
    because the floor is exactly the fixed-count OOM class this
    function exists to fix; at that scale the session default (sized
    per cluster) should be used instead of a scoped override anyway.
    ``cap`` bounds a pathological bytes estimate (a mispointed dir)
    so the override can never explode into tens of thousands of
    near-empty shuffle partitions; when it binds, a warning names the
    count the bytes asked for, because the capped count then puts more
    than ``target_bytes`` into each partition."""
    import warnings

    try:
        total = table_bytes(sf_dir, *names)
    except OSError as exc:
        total = 0
        reason = f"unreadable ({exc})"
    else:
        reason = "zero bytes on disk"
    if total <= 0:
        warnings.warn(
            f"scaled_shuffle_partitions: {reason} for {names} under "
            f"{sf_dir!r} — falling back to the bench-scale floor "
            f"{floor}, which is NOT sized for large inputs; check the "
            "table paths or use the session shuffle default instead",
            RuntimeWarning,
            stacklevel=2,
        )
        return floor
    n = max(floor, -(-total // target_bytes))
    if n > cap:
        warnings.warn(
            f"scaled_shuffle_partitions: {total} bytes for {names} under "
            f"{sf_dir!r} ask for {n} partitions of {target_bytes} bytes — "
            f"capped at {cap}, so each partition holds more than the target",
            RuntimeWarning,
            stacklevel=2,
        )
        return cap
    return n


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register corpus tables as temp views so ``spark.sql`` can see them."""
    for name, df in load_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(name)
