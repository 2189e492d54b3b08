"""Structured Streaming surface over the events table.

The reference is pure batch with full-replace loads
(``etl/load_to_query.py:163-169,196-202``); this module supplies the
incremental counterpart the README's architecture implies: file-source
``readStream`` -> watermarked event-time windows / stateful dedup ->
sinks. Locally a parquet directory drives the stream to completion with
``processAllAvailable`` over a memory sink; in production the same
pipeline definitions bind to Kafka/cloud-storage sources and Delta/
parquet sinks via ``writeStream`` — the transformations are identical
(Spark's unified model).

State & scale: every stateful op carries a watermark so state is bounded
(late rows beyond the delay are dropped, window state is evicted);
shuffle partitioning on the grouping keys is the same as the batch twins
in ``queries.eventops``.
"""

from __future__ import annotations

import itertools
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.parity import stable_sum, sql_stable_sum

_SINK_COUNTER = itertools.count()


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (schema pinned from the
    batch footer — streaming sources require an explicit schema). The
    nanos-timestamp column arrives as long and is truncated to micros,
    mirroring ``sources.tables.load_table``."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # scan-level TIMESTAMP (not NTZ) for plain-micros parquet — see
    # sources.tables.load_table
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # the streaming file source requires a directory; glob-filter to the
    # events file within the corpus dir
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if isinstance(schema["ts"].dataType, T.LongType):
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    elif isinstance(schema["ts"].dataType, T.TimestampNTZType):
        # session TZ is pinned UTC, so this cast is a pure re-tag; a plain
        # NTZ ts would be rejected by withWatermark (EVENT_TIME_IS_NOT_ON_
        # TIMESTAMP_TYPE)
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def _drain(q, what: str, timeout_s: int = 300) -> None:
    """Block until an ``availableNow`` run completes. Runs must COMPLETE
    before the next batch lands: a timed-out run still holds the
    checkpoint while the next starts, yielding half-merged state — fail
    fast instead. One implementation so the timeout policy cannot drift
    across the driver queries."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(f"{what} stream did not finish in {timeout_s}s")


def _feed_and_run(feed: DataFrame, base: str, handler, what: str) -> None:
    """Append ``feed`` to the file source ``{base}/incoming``, then run one
    ``availableNow`` pass of ``handler`` over the new files, resuming the
    checkpoint ``{base}/ckpt``. Each call therefore hands the handler
    exactly the rows of ``feed``, as one or more micro-batches whose ids
    continue the previous run's."""
    feed.write.mode("append").parquet(f"{base}/incoming")
    q = (
        feed.sparkSession.readStream
        # nullable the way a parquet read reports it, without a read-back job
        .schema(feed.schema.toNullable())
        .parquet(f"{base}/incoming")
        .writeStream.foreachBatch(handler)
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, what)


def _versioned_fold(
    spark: SparkSession,
    what: str,
    feeds: list[DataFrame],
    fold_slice,
    merge,
    present=lambda state: state,
) -> DataFrame:
    """Stream ``feeds`` in order through a ``foreachBatch`` fold into
    versioned state and return ``present`` of the final state,
    materialized.

    Micro-batch ``N`` writes ``v{N} = merge(v{N-1}, fold_slice(batch))``
    (``v0`` is the first slice alone). The previous version is addressed
    by the batch id, which is stable across checkpoint restarts, so a
    redelivered batch rewrites ``v{N}`` from the immutable ``v{N-1}``:
    never a double merge, and never an overwrite of the path its own plan
    reads. ``merge`` must accept state and slice in that order and may
    assume the slice comes later in the feed's order."""
    base = tempfile.mkdtemp(prefix=f"stream_{what}_")
    state = f"{base}/state"

    def handler(batch: DataFrame, batch_id: int) -> None:
        out = fold_slice(batch)
        if batch_id > 0:
            prev = batch.sparkSession.read.parquet(f"{state}/v{batch_id - 1}")
            out = merge(prev, out)
        out.write.mode("overwrite").parquet(f"{state}/v{batch_id}")

    try:
        for feed in feeds:
            _feed_and_run(feed, base, handler, what)
        latest = committed_store_versions(state) - 1
        return present(spark.read.parquet(f"{state}/v{latest}")).localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def run_to_memory(agg: DataFrame, mode: str = "complete") -> DataFrame:
    """Drive a (finite) stream to completion into a memory sink and return
    the result, checkpointed. Test/driver harness helper — production
    binds the same ``agg`` to a real sink.

    The memory sink retains the full result set in driver memory for as
    long as its temp view exists — across repeated invocations (bench
    warm passes, the per-round driver sweep) that accumulates one result
    copy per call. Checkpoint the rows out, then DROP the view."""
    spark = agg.sparkSession
    name = f"stream_sink_{next(_SINK_COUNTER)}"
    q = (
        agg.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.table(name).localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    return out


def tumbling_counts(stream: DataFrame) -> DataFrame:
    """Watermarked 10-minute tumbling counts per event type — the
    streaming twin of ``queries.eventops.events_tumbling_10m``."""
    return (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            stable_sum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_windows(stream: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Native streaming session windows (``session_window``) per user."""
    return (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            stable_sum("value").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def dedup_within_watermark(stream: DataFrame) -> DataFrame:
    """Stateful streaming dedup on event_id with bounded state."""
    return stream.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )


# ---------------------------------------------------------------------------
# Driver-facing queries (batch-equivalent semantics -> oracle-checkable)
# ---------------------------------------------------------------------------

# Stateful streaming runs one state-store instance PER shuffle partition
# (a stream-stream join runs FOUR: two per side), and every micro-batch
# pays task-launch + store-commit per instance — so the partition count
# must be sized to the stream's STATE volume, not inherited from the
# batch shuffle default (32 here). The local replays hold ~100k events /
# ~1.5k users of state; store commits dominate end-to-end time, measured
# near-linear in the instance count at sf0.1 (interval join: 2.5 s at 4
# partitions, 4.4 s at 8, 8.2 s at 32; the replay family shows the same
# slope — audit replay 2.5 s vs 4.8 s, substring dedup 5.4 s vs 9.8 s at
# 4 vs 8). RocksDB provider measured no better at this volume (4.8 s vs
# 4.4 s, HDFS-backed, interval join at 8). On a production firehose this
# constant scales up with state size; it is a conf, not a plan property —
# checkpoints pin it per query, and every query here starts from a fresh
# checkpoint. The 4 is the measured BENCH-SCALE floor; the applied count
# is input-bytes-derived (``scaled_shuffle_partitions``, the r14
# pagerank treatment): state volume tracks the events feed, so one more
# store instance per 16 MB of events keeps per-instance state bounded at
# any scale while the floor preserves the measured local optimum (4
# through sf1; events at sf10 is ~205 MB -> 13 partitions).
STREAM_SHUFFLE_PARTITIONS = 4
_STREAM_TARGET_BYTES = 16 * 1024 * 1024


def _stream_scoped(fn):
    """Run a driver-facing streaming query under the streaming shuffle
    sizing (scoped; restored on exit). Safe because each wrapped query
    materializes fully inside (memory sink drained / localCheckpoint)."""
    import functools

    @functools.wraps(fn)
    def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..session import scoped_confs
        from ..sources.tables import scaled_shuffle_partitions

        n = scaled_shuffle_partitions(
            sf_dir,
            ("events",),
            STREAM_SHUFFLE_PARTITIONS,
            target_bytes=_STREAM_TARGET_BYTES,
        )
        with scoped_confs(
            spark,
            {"spark.sql.shuffle.partitions": str(n)},
        ):
            return fn(spark, sf_dir)

    return wrapper


@_stream_scoped
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the watermarked tumbling aggregation as an actual streaming query
    (memory sink, complete mode) — result equals the batch twin, so the
    batch oracle applies."""
    return run_to_memory(tumbling_counts(events_stream(spark, sf_dir)))


@_stream_scoped
def stream_dedup_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup then count by type (append mode)."""
    dd = dedup_within_watermark(events_stream(spark, sf_dir))
    out = run_to_memory(dd, mode="append")
    return out.groupBy("event_type").agg(F.count("*").alias("n_events"))


@_stream_scoped
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming ``session_window`` per user (complete mode) —
    semantics equal the batch lag+cumsum sessionization with the same gap:
    session_start = first event, session_end = last event + gap."""
    return run_to_memory(
        session_windows(events_stream(spark, sf_dir), gap="30 minutes")
    )


ATTRIBUTION_WINDOW_MIN = 10


def interval_click_join(purchases: DataFrame, clicks: DataFrame) -> DataFrame:
    """Watermarked stream-stream interval join kernel: purchases
    ``(purchase_id, user_id, purchase_ts)`` x clicks ``(click_id,
    click_user, click_ts)`` -> one row per (purchase, same-user click
    within the ``ATTRIBUTION_WINDOW_MIN``-minute window at-or-before it),
    with the exact integer-microsecond gap. Both watermarks bound the
    join state store: clicks older than (watermark - interval) and
    purchases older than the watermark are evicted."""
    joined = purchases.withWatermark("purchase_ts", "30 minutes").join(
        clicks.withWatermark("click_ts", "30 minutes"),
        (F.col("user_id") == F.col("click_user"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts")
            - F.expr(f"INTERVAL {ATTRIBUTION_WINDOW_MIN} MINUTES")
        )
        & (F.col("click_ts") <= F.col("purchase_ts")),
        "inner",
    )
    return joined.select(
        "purchase_id",
        "user_id",
        "click_id",
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias("gap_us"),
    )


@_stream_scoped
def stream_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: every purchase joined to the same
    user's clicks in the ``ATTRIBUTION_WINDOW_MIN`` minutes at-or-before
    it — the streaming counterpart of the batch as-of/range-join family
    (``queries.eventops.events_purchase_attribution``).

    Both sides carry a watermark, so the join state store holds only
    clicks newer than (watermark - interval) and purchases newer than
    the watermark: state is bounded by event-rate x window, not corpus
    size — the property that lets this run forever on a production
    click firehose. Output mode is append: an inner interval join emits
    each qualifying pair exactly once, when both sides have arrived.
    Replayed to completion over the finite corpus, the result equals
    the batch range join, which is the oracle.
    """
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
        )
    )
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
    )
    return run_to_memory(interval_click_join(purchases, clicks), mode="append")


# The finite replay emits exactly the batch interval join's pairs; the
# integer-microsecond gap avoids float time arithmetic on both engines.
STREAM_CLICK_ATTRIBUTION_ORACLE = f"""
SELECT p.event_id AS purchase_id,
       p.user_id,
       c.event_id AS click_id,
       epoch_us(CAST(p.ts AS TIMESTAMP)) - epoch_us(CAST(c.ts AS TIMESTAMP))
         AS gap_us
FROM events p JOIN events c
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND CAST(c.ts AS TIMESTAMP)
       BETWEEN CAST(p.ts AS TIMESTAMP) - INTERVAL {ATTRIBUTION_WINDOW_MIN} MINUTE
           AND CAST(p.ts AS TIMESTAMP)
"""


def static_dim_enrichment(stream: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static join kernel: every micro-batch probes the static
    dimension — STATELESS (no state store, no watermark needed for the
    join itself; the dim is re-resolvable per batch, which is how a
    slowly-refreshed warehouse dim binds to a live stream). Contrast
    with the stream-stream interval join above, whose both sides hold
    watermark-bounded state."""
    return stream.join(dim, stream["user_id"] == dim["c_custkey"], "inner")


@_stream_scoped
def stream_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment end-to-end: the purchase stream joined to
    the static customer dimension, then watermarked daily revenue per
    market segment. The join is stateless; only the windowed aggregation
    carries (bounded) state. Replayed to completion, the result equals
    the batch join+agg — the oracle."""
    from ..sources.tables import load_table

    purchases = events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    agg = (
        static_dim_enrichment(purchases, dim)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 day").alias("w"), "c_mktsegment")
        .agg(
            F.count("*").alias("n_purchases"),
            stable_sum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "c_mktsegment",
            "n_purchases",
            "total_value",
        )
    )
    return run_to_memory(agg)


STREAM_STATIC_ENRICHMENT_ORACLE = f"""
SELECT make_timestamp(CAST(floor(epoch(e.ts) / 86400) * 86400 AS BIGINT)
         * 1000000) AS window_start,
       c.c_mktsegment,
       count(*) AS n_purchases,
       {sql_stable_sum("e.value")} AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
WHERE e.event_type = 'purchase'
GROUP BY 1, 2
"""


@_stream_scoped
def stream_scd2_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental staging ingestion end-to-end (§2.9): replay the
    warehouse two-batch SCD2 scenario as TWO ``availableNow`` streaming
    upsert runs (file source -> ``foreachBatch`` set-based merge ->
    managed table) and return the final dimension. The result equals the
    batch ``scd2_customer_two_batch`` exactly, so the same oracle gates
    this path — proving the streaming ingest converges to the batch
    warehouse state."""
    import uuid

    from ..queries.warehouse import CUSTOMER_CFG, D0, D1, _customer_batch2
    from ..sources import writers as W
    from ..sources.tables import load_table
    from .upsert import scd2_stream_upsert

    cust = load_table(spark, sf_dir, "customer")
    base = tempfile.mkdtemp(prefix="scd2_stream_upsert_")
    src = f"{base}/incoming"
    ckpt = f"{base}/ckpt"
    # fresh namespace per invocation: the checkpoint is fresh too, so a
    # reused table would be double-merged
    db = f"stream_upsert_{uuid.uuid4().hex[:12]}"
    schema = cust.schema

    def incoming() -> DataFrame:
        return spark.readStream.schema(schema).parquet(src)

    def run(q) -> None:
        _drain(q, "scd2 upsert")

    try:
        cust.write.mode("append").parquet(src)
        run(scd2_stream_upsert(incoming(), CUSTOMER_CFG, "dim_customer", db, D0, ckpt))
        _customer_batch2(cust).write.mode("append").parquet(src)
        run(scd2_stream_upsert(incoming(), CUSTOMER_CFG, "dim_customer", db, D1, ckpt))
        # materialize BEFORE dropping the per-invocation namespace, then
        # clean up the temp dir so repeated invocations (bench warmups,
        # driver runs) don't accumulate state.
        out = W.read_table(spark, "dim_customer", db).localCheckpoint(eager=True)
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        shutil.rmtree(base, ignore_errors=True)
    return out


STREAM_TUMBLING_ORACLE = f"""
SELECT make_timestamp(CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) * 1000000)
         AS window_start,
       make_timestamp(CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) * 1000000)
         + INTERVAL 10 MINUTE AS window_end,
       event_type,
       count(*) AS n_events,
       {sql_stable_sum("value")} AS total_value
FROM events GROUP BY 1, 2, 3
"""

# Kept-row rule pinned for determinism: ORDER BY event_id, ts makes
# DISTINCT ON keep the ts-min row. dropDuplicatesWithinWatermark keeps the
# first-ARRIVING row, which only differs if an event_id recurs with a
# different event_type — the corpus has none (asserted in tests), so both
# rules select identical rows.
STREAM_DEDUP_ORACLE = """
SELECT event_type, count(*) AS n_events
FROM (SELECT DISTINCT ON (event_id) event_type FROM events
      ORDER BY event_id, ts)
GROUP BY 1
"""

# session_window == gap sessionization via the lag+cumsum construction.
# Boundary semantics (empirically pinned by
# tests/test_eventops_oracle.py::test_session_window_exact_gap_boundary):
# Spark's session_window MERGES an event arriving exactly ``gap`` after
# the previous one (adjacent [t, t+gap] windows coalesce), so new_session
# fires only on strict > gap — matching the batch twin's convention.
STREAM_SESSION_ORACLE = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN epoch_us(ts) - epoch_us(
                lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
              > {30 * 60 * 1_000_000}
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sessions AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM flagged
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events,
       {sql_stable_sum("value")} AS total_value
FROM sessions GROUP BY user_id, grp
"""

# split point for the two-run stateful replay: mid-corpus (events span
# 2024-01-01..2024-01-30 at every SF), so both runs carry real volume and
# most users' state crosses the checkpoint boundary
SESSION_STATS_SPLIT = "2024-01-16 00:00:00"


@_stream_scoped
def stream_user_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lifetime session statistics ``(user_id, n_events,
    n_sessions, first_us, last_us)`` from a stream of events, where a gap
    strictly greater than ``SESSION_GAP_SECONDS`` opens a session.

    The events arrive as two ``availableNow`` runs through one checkpoint,
    split at ``SESSION_STATS_SPLIT``, so each user's later events come in
    a later micro-batch. Each micro-batch is folded into versioned state
    with ``operators/sessionize.session_slice`` and
    ``merge_session_state``, which need batches in time order per user.
    The result equals the batch lag-and-count sessionization, which is
    the oracle."""
    from ..operators.sessionize import merge_session_state, session_slice
    from ..queries.eventops import SESSION_GAP_SECONDS
    from ..sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    split = F.lit(SESSION_STATS_SPLIT).cast("timestamp")
    return _versioned_fold(
        spark,
        "session_stats",
        [ev.filter(F.col("ts") < split), ev.filter(F.col("ts") >= split)],
        lambda batch: session_slice(batch, SESSION_GAP_SECONDS),
        lambda state, later: merge_session_state(state, later, SESSION_GAP_SECONDS),
    )


# 1800000000 us == queries.eventops.SESSION_GAP_SECONDS (strict > gap
# opens a session, the sessionize.py convention); guarded by
# tests/test_stateful_streaming.py so the constants cannot drift apart
STREAM_USER_SESSION_STATS_ORACLE = """
WITH e AS (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
),
lagged AS (
  SELECT user_id, us,
         lag(us) OVER (PARTITION BY user_id ORDER BY us) AS prev
  FROM e
)
SELECT user_id,
       count(*) AS n_events,
       CAST(sum(CASE WHEN prev IS NULL OR us - prev > 1800000000
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
       min(us) AS first_us,
       max(us) AS last_us
FROM lagged GROUP BY 1
"""


@_stream_scoped
def stream_audit_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming ingestion end-to-end over the audit log
    (``pipelines.audit.logged_stream_sink``): an ``availableNow`` run
    ingests the events corpus through a batchId-idempotent ``foreachBatch``
    sink, then the LAST BATCH IS FORCIBLY REPLAYED — the handler re-invoked
    with the same batchId, exactly what at-least-once delivery produces
    after a crash between the sink commit and the checkpoint commit. The
    inner sink re-runs (its batchId-named overwrite makes that a no-op),
    and the audit table must still hold exactly ONE row per batchId.

    Driver-compared output: 10-minute tumbling counts computed FROM THE
    SUNK FILES (so the oracle gates that replay did not duplicate or drop
    data) plus two booleans — ``audit_exactly_once`` (one audit row per
    distinct batch, derived from the audit table itself) and
    ``replay_exercised`` (the handler really ran more times than there
    were batches; harness-asserted, constant TRUE in the oracle)."""
    import uuid
    from datetime import datetime

    from ..pipelines.audit import RUN_LOG_TABLE, logged_stream_sink
    from ..sources import writers as W

    base = tempfile.mkdtemp(prefix="stream_audit_replay_")
    db = f"audit_replay_{uuid.uuid4().hex[:12]}"
    out = f"{base}/sunk"
    seen: list[int] = []

    def inner(batch: DataFrame, batch_id: int) -> None:
        # batchId-named overwrite target: idempotent under replay
        batch.write.mode("overwrite").parquet(f"{out}/b{batch_id}")
        seen.append(batch_id)

    t0 = datetime(2026, 1, 1, 0, 0, 0)
    handle = logged_stream_sink(
        inner, "events_ingest", "audit-replay", t0, t0, database=db
    )
    try:
        q = (
            events_stream(spark, sf_dir)
            .writeStream.foreachBatch(handle)
            .option("checkpointLocation", f"{base}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        _drain(q, "audit-replay ingest")
        # forced at-least-once replay of the final batch: same batchId,
        # same data (re-read from the sunk batch dir, MATERIALIZED first —
        # the handler overwrites that very dir, and a lazy scan would read
        # files the overwrite is deleting)
        last = max(seen)
        replay_batch = spark.read.parquet(f"{out}/b{last}").localCheckpoint(
            eager=True
        )
        handle(replay_batch, last)
        replay_exercised = len(seen) > len(set(seen))

        counts = (
            # named paths: a glob sends the streaming-sink metadata probe
            # into a logged stack trace
            spark.read.parquet(*[f"{out}/b{i}" for i in sorted(set(seen))])
            .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
            .agg(
                F.count("*").alias("n_events"),
                stable_sum("value").alias("total_value"),
            )
            .select(
                F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "event_type",
                "n_events",
                "total_value",
            )
        )
        audit_ok = W.read_table(spark, RUN_LOG_TABLE, db).agg(
            (
                (F.count("*") == F.lit(len(set(seen))))
                & (F.count("*") == F.count_distinct(F.col("run_id")))
            ).alias("audit_exactly_once")
        )
        result = (
            counts.crossJoin(F.broadcast(audit_ok))
            .withColumn("replay_exercised", F.lit(bool(replay_exercised)))
            .localCheckpoint(eager=True)
        )
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        shutil.rmtree(base, ignore_errors=True)
    return result


STREAM_AUDIT_REPLAY_ORACLE = f"""
SELECT make_timestamp(CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) * 1000000)
         AS window_start,
       make_timestamp(CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) * 1000000)
         + INTERVAL 10 MINUTE AS window_end,
       event_type,
       count(*) AS n_events,
       {sql_stable_sum("value")} AS total_value,
       TRUE AS audit_exactly_once,
       TRUE AS replay_exercised
FROM events GROUP BY 1, 2, 3
"""


@_stream_scoped
def stream_mart_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental view maintenance: the daily sales mart
    maintained by a ``foreachBatch`` sink that merges each micro-batch's
    EXACT group partials into the stored state (``operators/ivm`` — the
    streaming twin of ``queries.warehouse.mart_incremental_refresh``).
    Two time-split ``availableNow`` runs drive the fact in as two
    batches through one checkpoint; a forced replay of the final batch
    is a guarded no-op (the audit-table batch key), so at-least-once
    delivery cannot double-count. The presented mart is bit-identical to
    a one-shot build — the same oracle as the batch IVM query."""
    import uuid
    from datetime import datetime

    from ..operators import ivm
    from ..queries.warehouse import IVM_DELTA_MOD, _ivm_cfg, mart_ivm_fact
    from ..sources import writers as W

    cfg = _ivm_cfg()
    # the fact join is consumed three times (base feed write, delta feed
    # write, replay checkpoint) — persist so it computes once
    fact = mart_ivm_fact(spark, sf_dir).persist()
    base = tempfile.mkdtemp(prefix="stream_mart_refresh_")
    db = f"stream_ivm_{uuid.uuid4().hex[:12]}"
    mart = "mart_daily_state"
    t0 = datetime(2026, 1, 1, 0, 0, 0)
    outcomes: list[bool] = []

    def handler(batch: DataFrame, batch_id: int) -> None:
        # the stream's micro-batch id doubles as the state version —
        # stable across checkpoint restarts, so a redelivered batch
        # re-derives v{batch_id} from the immutable v{batch_id-1}
        outcomes.append(
            ivm.apply_batch(
                batch.sparkSession,
                batch,
                f"mart-stream#{batch_id}",
                mart,
                db,
                cfg,
                t0,
                version=batch_id,
            )
        )

    try:
        base_feed = fact.filter(F.col("__ok") % IVM_DELTA_MOD != 0).drop("__ok")
        delta = fact.filter(F.col("__ok") % IVM_DELTA_MOD == 0).drop("__ok")
        _feed_and_run(base_feed, base, handler, "mart-refresh")
        _feed_and_run(delta, base, handler, "mart-refresh")
        replay_batch = delta.localCheckpoint(eager=True)
        # at-least-once redelivery of the final micro-batch: same stream
        # batch id, guard skips (apply_batch returns False)
        last = len(outcomes) - 1
        handler(replay_batch, last)
        ok = outcomes[:-1] == [True] * (len(outcomes) - 1) and outcomes[-1] is False
        out = (
            ivm.present(
                W.read_table(spark, ivm.state_table(mart, last), database=db),
                cfg,
            )
            .withColumn("replay_skipped", F.lit(bool(ok)))
            .localCheckpoint(eager=True)
        )
    finally:
        fact.unpersist()
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        shutil.rmtree(base, ignore_errors=True)
    return out


def _mart_ivm_oracle() -> str:
    # identical presented schema and semantics as the batch IVM query
    from ..queries.warehouse import MART_INCREMENTAL_REFRESH_ORACLE

    return MART_INCREMENTAL_REFRESH_ORACLE


@_stream_scoped
def stream_cdc_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming changelog compaction: each micro-batch's per-key
    compaction state (``operators/cdc.compact_batch``) is folded into the
    stored state with ``merge_state`` — the log is NEVER rescanned; each
    merge touches one state-table-sized frame plus the micro-batch. The
    feed is split by event-id PARITY (not time), so the second batch
    carries sequences both older and newer than the first — the
    max_by-over-total-order merge, not arrival order, decides every key.
    Final presented snapshot is bit-identical to the one-shot batch
    compaction, so it shares ``events_cdc_compaction``'s oracle.

    State versions land at per-batch paths (``_versioned_fold``) — the
    poor-man's versioned table; at cluster scale the same merge plan
    lands in a transactional MERGE on one table (see ARCHITECTURE.md,
    Streaming SCD2 row)."""
    from ..operators import cdc
    from ..queries.eventops import CDC_DELETE_OP
    from ..sources.tables import load_tables

    ev = load_tables(spark, sf_dir, "events")["events"]
    return _versioned_fold(
        spark,
        "cdc",
        [ev.filter(F.col("event_id") % 2 == 0), ev.filter(F.col("event_id") % 2 == 1)],
        lambda batch: cdc.compact_batch(
            batch,
            key_col="user_id",
            seq_cols=("ts", "event_id"),
            op_col="event_type",
            delete_op=CDC_DELETE_OP,
            payload_cols=("event_id", "value"),
        ),
        lambda state, later: cdc.merge_state(state, later, "user_id"),
        lambda state: cdc.present_state(
            state, "user_id", CDC_DELETE_OP, ("event_id", "value")
        ),
    )


def _cdc_oracle() -> str:
    # identical final snapshot as the one-shot batch compaction
    from ..queries.eventops import EVENTS_CDC_ORACLE

    return EVENTS_CDC_ORACLE


def committed_store_versions(d: str) -> int:
    """Count COMMITTED ``v{N}`` store versions under ``d``.

    Only dirs holding a ``_SUCCESS`` marker count — the parquet
    committer drops it last, so a crash mid-overwrite leaves a torn
    ``v{batch_id}`` dir with no marker. Counting torn dirs would
    classify the retried batch as a redelivery (``batch_id <
    versions``): the retry would still read the immutable
    ``v{batch_id-1}`` correctly, but the run-level ``fresh == 1``
    assertion in :func:`stream_substring_dedup` would fire on a
    legitimately recoverable run. A torn write must read as FRESH."""
    import os
    import re as _re

    if not os.path.isdir(d):
        return 0
    return sum(
        1
        for n in os.listdir(d)
        if _re.fullmatch(r"v\d+", n)
        and os.path.exists(os.path.join(d, n, "_SUCCESS"))
    )


@_stream_scoped
def stream_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming substring dedup at ingest: a ``foreachBatch`` sink runs
    each micro-batch of documents through
    ``operators/spans.report_against_store`` and then folds the batch's
    DISTINCT window hashes into the persisted store — the corpus is
    NEVER rescanned; every pass touches one micro-batch plus the
    8-byte-per-window hash store. The feed arrives in two availableNow
    micro-batches split by doc-id parity (evens first against an EMPTY
    store, odds against the evens' windows), so the final report is
    deterministic: the union of per-batch reports under
    earliest-batch-then-lowest-id keep-first precedence, which is
    exactly what the two-stage batch oracle computes.

    Store versions land at per-batch paths (v{batch_id}) — the same
    poor-man's versioned table as ``stream_cdc_compaction``; at cluster
    scale the store merge is one idempotent MERGE/append on a hash-
    bucketed table."""
    from ..operators import spans as SP
    from ..queries.pipelineops import SUBSTR_W
    from ..sources.tables import load_tables

    base = tempfile.mkdtemp(prefix="stream_substr_")

    def spath(version: int) -> str:
        return f"{base}/store/v{version}"

    # the oracle parity proof assumes each availableNow run folds
    # EXACTLY one FRESH micro-batch (the two-branch oracle and the
    # within-batch keep-first both depend on it). The expected batch id
    # is keyed off the STORE'S PERSISTED VERSIONS, not driver-local
    # state: each committed batch leaves exactly one v{batch_id}
    # directory, so at handler entry `batch_id == versions` is the
    # normal next batch, `batch_id < versions` is a checkpoint
    # redelivery (v{batch_id} already exists; the v{batch_id-1} read +
    # overwrite writes below re-derive it idempotently — the HANDLER no
    # longer trips on a cross-process resume of a persistent
    # checkpoint), and `batch_id > versions` means a batch committed
    # without leaving its store version — corruption, die. A split
    # run's SECOND fresh batch dies on the fresh-count check before
    # writing a mid-run report. Scope note: run() below still asserts
    # exactly ONE fresh batch per run — that is THIS harness's
    # two-feeds contract, so a resumed run that only redelivers (crash
    # between store write and checkpoint commit, then restart with no
    # new feed) would fail the run-level check; a deployment replaying
    # persistent checkpoints should drop that assertion, not the
    # handler guards.
    run_state = {"fresh": 0}

    def _store_versions() -> int:
        return committed_store_versions(f"{base}/store")

    def handler(batch: DataFrame, batch_id: int) -> None:
        versions = _store_versions()
        if batch_id > versions:
            raise AssertionError(
                f"stream_substring_dedup: micro-batch {batch_id} arrived "
                f"with only {versions} persisted store versions — a prior "
                "batch committed without its store write"
            )
        if batch_id == versions:  # fresh, not a redelivery
            run_state["fresh"] += 1
            if run_state["fresh"] > 1:
                raise AssertionError(
                    f"stream_substring_dedup: second fresh micro-batch "
                    f"{batch_id} within one run — the one-batch-per-run "
                    "assumption of the two-batch oracle no longer holds"
                )
        s = batch.sparkSession
        # this handler runs STATELESS batch jobs with real per-row work
        # (tokenize + window-hash the micro-batch), so the state-store
        # sizing rationale behind STREAM_SHUFFLE_PARTITIONS does not
        # apply inside it — rescope for the handler's own shuffles
        # (floor 16 measured 0.6 s faster at sf0.1; the stream
        # source/sink machinery around it never shuffles). The count is
        # input-derived like pagerank's (r14): window-hash postings are
        # ~10x the document bytes, so a fixed 16 would concentrate a
        # 100x corpus's explode+sort into 16 unsplittable tasks.
        from ..session import scoped_confs
        from ..sources.tables import scaled_shuffle_partitions

        n_shuffle = scaled_shuffle_partitions(
            sf_dir, ("documents",), 16, target_bytes=8 * 1024 * 1024
        )
        with scoped_confs(s, {"spark.sql.shuffle.partitions": str(n_shuffle)}):
            # previous store addressed by BATCH ID, not driver-local
            # state: a redelivered batch re-derives its outputs from the
            # immutable v{batch_id-1}, and both writes are overwrite —
            # idempotent
            if batch_id > 0:
                store_hv = s.read.parquet(spath(batch_id - 1))
            else:
                from ..functions.local import local_frame

                store_hv = local_frame(s, [], "hv long")
            # ONE tokenize+hash window pass per micro-batch, persisted:
            # the report and the store fold both consume it (re-deriving
            # the windows from raw text per consumer measured ~2x the
            # handler cost at sf0.1); one distinct over the union
            # replaces the old per-side distinct — same store contents
            pos = SP.window_hash_positions(
                batch, "text", "doc_id", SUBSTR_W
            ).persist()
            try:
                report = SP.report_against_store(
                    batch, store_hv, "text", "doc_id", SUBSTR_W, pos=pos
                )
                merged = (
                    store_hv.select("hv").union(pos.select("hv")).distinct()
                )
                # a torn store version still reads as fresh (no
                # _SUCCESS), and a redelivery re-derives both writes
                # from v{batch_id-1}
                report.write.mode("overwrite").parquet(
                    f"{base}/reports/b{batch_id}"
                )
                merged.write.mode("overwrite").parquet(spath(batch_id))
            finally:
                pos.unpersist()

    def run(feed: DataFrame) -> None:
        run_state["fresh"] = 0
        _feed_and_run(feed, base, handler, "substring-dedup")
        if run_state["fresh"] != 1:
            raise AssertionError(
                f"stream_substring_dedup: run completed with "
                f"{run_state['fresh']} fresh micro-batches (expected 1) — "
                "one-batch-per-run assumption violated"
            )

    try:
        docs = load_tables(spark, sf_dir, "documents")["documents"]
        run(docs.filter(F.col("doc_id") % 2 == 0))
        run(docs.filter(F.col("doc_id") % 2 == 1))
        # one committed report per store version; named paths, because a
        # glob makes the streaming-sink metadata probe log a stack trace
        reports = [f"{base}/reports/b{i}" for i in range(_store_versions())]
        out = spark.read.parquet(*reports).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


def _stream_substring_oracle() -> str:
    # batch 0: evens against an EMPTY store (within-batch keep-first
    # only); batch 1: odds against the evens' window store — two
    # parenthesized WITH-subqueries unioned (CTE names scope per branch)
    from ..operators.spans import sql_incremental_substring_report
    from ..queries.pipelineops import SUBSTR_W

    evens = sql_incremental_substring_report(
        SUBSTR_W, store_where="1 = 0", batch_where="doc_id % 2 = 0"
    )
    odds = sql_incremental_substring_report(
        SUBSTR_W, store_where="doc_id % 2 = 0", batch_where="doc_id % 2 = 1"
    )
    return f"SELECT * FROM (\n{evens}\n) UNION ALL SELECT * FROM (\n{odds}\n)"


QUERIES = {
    "stream_cdc_compaction": stream_cdc_compaction,
    "stream_substring_dedup": stream_substring_dedup,
    "stream_tumbling_counts": stream_tumbling_counts,
    "stream_dedup_count": stream_dedup_count,
    "stream_session_windows": stream_session_windows,
    "stream_scd2_upsert": stream_scd2_upsert,
    "stream_user_session_stats": stream_user_session_stats,
    "stream_click_attribution": stream_click_attribution,
    "stream_static_enrichment": stream_static_enrichment,
    "stream_audit_replay": stream_audit_replay,
    "stream_mart_refresh": stream_mart_refresh,
}


def _scd2_two_batch_oracle() -> str:
    # The streaming upsert lands the identical final state as the batch
    # two-batch merge, so it shares that oracle. Note this resolves at
    # module import (ORACLES below calls it), so importing this module
    # pulls in queries.warehouse — accepted: every consumer of ORACLES
    # needs that oracle anyway, and a lazy dict would complicate the
    # driver contract for no measured win.
    from ..queries.warehouse import SCD2_TWO_BATCH_ORACLE

    return SCD2_TWO_BATCH_ORACLE


ORACLES = {
    "stream_cdc_compaction": _cdc_oracle(),
    "stream_substring_dedup": _stream_substring_oracle(),
    "stream_tumbling_counts": STREAM_TUMBLING_ORACLE,
    "stream_dedup_count": STREAM_DEDUP_ORACLE,
    "stream_session_windows": STREAM_SESSION_ORACLE,
    "stream_scd2_upsert": _scd2_two_batch_oracle(),
    "stream_user_session_stats": STREAM_USER_SESSION_STATS_ORACLE,
    "stream_click_attribution": STREAM_CLICK_ATTRIBUTION_ORACLE,
    "stream_static_enrichment": STREAM_STATIC_ENRICHMENT_ORACLE,
    "stream_audit_replay": STREAM_AUDIT_REPLAY_ORACLE,
    "stream_mart_refresh": _mart_ivm_oracle(),
}
