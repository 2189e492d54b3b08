"""Batch sessionization: gap-based session assignment via lag + cumsum.

The classic Spark pattern for session windows outside streaming (the
streaming twin is ``session_window`` in ``streaming.pipelines``): order
events per user, mark a new session whenever the gap to the previous event
exceeds the threshold, and number sessions with a running sum. Two window
passes over the same (user, time) partitioning — one shuffle total, and
the partition key is the user id, so a 100 TB event log parallelizes per
user with AQE handling hot users.

The same gap rule, as a mergeable per-user state for streams:
``session_slice`` reduces one slice of events to ``(user_id, n_events,
n_sessions, first_us, last_us)`` and ``merge_session_state`` folds a
later slice into a stored state. Folding time-ordered slices one after
another gives the state of the whole log.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.parity import fixed_sum


def sessionize(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    order_tiebreak: str = "event_id",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Assign ``session_id`` (0-based per user, chronological)."""
    w = Window.partitionBy(user_col).orderBy(ts_col, order_tiebreak)
    gap_us = F.unix_micros(F.col(ts_col)) - F.unix_micros(
        F.lag(ts_col).over(w)
    )
    new_session = F.when(
        gap_us.isNull() | (gap_us <= gap_seconds * 1_000_000), 0
    ).otherwise(1)
    running = Window.partitionBy(user_col).orderBy(ts_col, order_tiebreak).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return df.withColumn("session_id", F.sum(new_session).over(running))


def session_stats(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    gap_seconds: int = 1800,
    order_tiebreak: str = "event_id",
) -> DataFrame:
    """Per-session aggregate: bounds, event count, total value.
    ``order_tiebreak`` plumbs through to :func:`sessionize` — frames
    without an ``event_id`` column must name their own tie column."""
    s = sessionize(
        df,
        user_col=user_col,
        ts_col=ts_col,
        order_tiebreak=order_tiebreak,
        gap_seconds=gap_seconds,
    )
    return s.groupBy(user_col, "session_id").agg(
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count("*").alias("n_events"),
        # event values are 2-decimal money (corpus contract) — long fast path
        fixed_sum(value_col, 2).alias("total_value"),
    )


def session_slice(events: DataFrame, gap_seconds: int) -> DataFrame:
    """Per-user session state of one slice of ``(user_id, ts)`` events:
    ``(user_id, n_events, n_sessions, first_us, last_us)``, times as
    epoch micros.

    A gap strictly greater than ``gap_seconds`` opens a session, and each
    user's first event in the slice opens one. Equal timestamps never
    open a session, so ties cannot change any column."""
    w = Window.partitionBy("user_id").orderBy("us")
    prev = F.lag("us").over(w)
    opens = prev.isNull() | (F.col("us") - prev > gap_seconds * 1_000_000)
    return (
        events.select("user_id", F.unix_micros("ts").alias("us"))
        .withColumn("opens", opens)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.count(F.when(F.col("opens"), 1)).alias("n_sessions"),
            F.min("us").alias("first_us"),
            F.max("us").alias("last_us"),
        )
    )


def merge_session_state(
    state: DataFrame, later: DataFrame, gap_seconds: int
) -> DataFrame:
    """Fold ``later`` (a :func:`session_slice`) into ``state`` (a slice or
    an earlier merge) per user.

    Contract: every event in ``later`` is at or after every event of the
    same user in ``state``. Counts add; a user whose ``later`` slice
    starts within ``gap_seconds`` of the stored ``last_us`` continues the
    stored session, so the slice's opening session is taken back. Users
    present on one side only pass through unchanged."""
    s, b = state.alias("s"), later.alias("b")
    continues = F.col("b.first_us") - F.col("s.last_us") <= gap_seconds * 1_000_000

    def total(c: str) -> Column:
        return F.coalesce(F.col(f"s.{c}"), F.lit(0)) + F.coalesce(
            F.col(f"b.{c}"), F.lit(0)
        )

    return s.join(b, "user_id", "full_outer").select(
        "user_id",
        total("n_events").alias("n_events"),
        (total("n_sessions") - F.when(continues, 1).otherwise(0)).alias(
            "n_sessions"
        ),
        F.coalesce("s.first_us", "b.first_us").alias("first_us"),
        F.coalesce("b.last_us", "s.last_us").alias("last_us"),
    )
