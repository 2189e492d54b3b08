"""applyInPandasWithState: state genuinely crosses micro-batches.

The events parquet is split into two files read one-per-trigger, so every
user's total accumulates across >= 2 batches; the final running value must
equal the batch-mode per-user sum."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datafoundation_multi_source_retail_data_integration_hub_spark.streaming.stateful import (
    running_total_per_user,
)

from .conftest import SF_SMOKE


def test_running_total_state_across_batches(spark, tmp_path):
    from datafoundation_multi_source_retail_data_integration_hub_spark.sources.tables import (
        load_table,
    )

    events = load_table(spark, SF_SMOKE, "events")
    src = str(tmp_path / "events_split")
    # two files -> two micro-batches with maxFilesPerTrigger=1
    events.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        src, mode="overwrite"
    )
    events.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = running_total_per_user(stream)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("running_totals")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    emitted = spark.table("running_totals").collect()
    # each user was emitted once per micro-batch containing their events
    per_user_emits = {}
    finals = {}
    for r in emitted:
        per_user_emits[r["user_id"]] = per_user_emits.get(r["user_id"], 0) + 1
        finals[r["user_id"]] = max(
            finals.get(r["user_id"], float("-inf")), r["running_value"]
        )
    assert max(per_user_emits.values()) == 2  # state crossed batches

    expected = {
        r["user_id"]: r["total"]
        for r in events.groupBy("user_id").agg(F.sum("value").alias("total")).collect()
    }
    assert set(finals) == set(expected)
    for u in expected:
        assert finals[u] == pytest.approx(expected[u], rel=1e-9)


def test_session_stats_gap_matches_oracle_constant():
    """The Spark kernel takes SESSION_GAP_SECONDS while the DuckDB oracle
    hardcodes the microsecond literal — pin them together so neither can
    drift (the oracle parity test would only catch a drift that changes
    results on the corpus; boundary-exact data might not exist there)."""
    from datafoundation_multi_source_retail_data_integration_hub_spark.queries.eventops import (
        SESSION_GAP_SECONDS,
    )
    from datafoundation_multi_source_retail_data_integration_hub_spark.streaming.pipelines import (
        STREAM_USER_SESSION_STATS_ORACLE,
    )

    assert f"> {SESSION_GAP_SECONDS * 1_000_000}" in STREAM_USER_SESSION_STATS_ORACLE


def test_session_stats_state_crosses_checkpointed_runs(spark):
    """Users active on both sides of the replay split must have their
    sessions counted ACROSS the two availableNow runs: if state were lost
    between runs, each run would re-open session 1 and every cross-split
    user's n_sessions would inflate by exactly one re-opened session
    (and first_us would reset). The oracle comparison in
    test_eventops_oracle covers values; this pins the mechanism."""
    from datafoundation_multi_source_retail_data_integration_hub_spark.sources.tables import (
        load_table,
    )
    from datafoundation_multi_source_retail_data_integration_hub_spark.streaming.pipelines import (
        SESSION_STATS_SPLIT,
        stream_user_session_stats,
    )

    ev = load_table(spark, SF_SMOKE, "events")
    split = F.lit(SESSION_STATS_SPLIT).cast("timestamp")
    both_sides = (
        ev.select("user_id", (F.col("ts") < split).alias("before"))
        .groupBy("user_id")
        .agg(F.countDistinct("before").alias("n_sides"))
        .filter(F.col("n_sides") == 2)
        .count()
    )
    assert both_sides > 0  # the split really exercises cross-run state

    out = {
        r["user_id"]: r
        for r in stream_user_session_stats(spark, SF_SMOKE).collect()
    }
    # first_us survives from run 1: for every cross-split user it must
    # predate the split point
    import datetime as dt

    split_us = int(
        dt.datetime.fromisoformat(SESSION_STATS_SPLIT)
        .replace(tzinfo=dt.timezone.utc)
        .timestamp()
        * 1_000_000
    )
    cross = [
        r["user_id"]
        for r in ev.select("user_id", "ts")
        .groupBy("user_id")
        .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
        .filter((F.col("lo") < split) & (F.col("hi") >= split))
        .collect()
    ]
    assert cross
    for u in cross:
        assert out[u]["first_us"] < split_us
        assert out[u]["last_us"] >= split_us


def test_session_stats_runs_one_wave_of_state_stores(spark):
    """The stateful stage holds at most one wave of state-store instances
    (one Python worker task each per micro-batch): min(16, cores) at
    fixture scale, with the oracle answer unchanged."""
    import threading
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    from datafoundation_multi_source_retail_data_integration_hub_spark.streaming.pipelines import (
        STREAM_USER_SESSION_STATS_ORACLE,
        stream_user_session_stats,
    )

    from .oracle import compare

    class StateParts(StreamingQueryListener):
        def __init__(self):
            self.parts = []
            self.lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            ops = event.progress.stateOperators or []
            if ops:
                with self.lock:
                    self.parts.append(ops[0].numShufflePartitions)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = StateParts()
    spark.streams.addListener(listener)
    try:
        compare(
            spark,
            SF_SMOKE,
            stream_user_session_stats,
            STREAM_USER_SESSION_STATS_ORACLE,
            "stream_user_session_stats",
        )
        # progress events reach Python asynchronously; one per run at least
        deadline = time.monotonic() + 30
        while len(listener.parts) < 2 and time.monotonic() < deadline:
            time.sleep(0.1)
    finally:
        spark.streams.removeListener(listener)
    want = min(16, spark.sparkContext.defaultParallelism)
    assert len(listener.parts) >= 2
    assert set(listener.parts) == {want}


# ---------------------------------------------------------------------------
# Property: the cross-batch session fold equals the batch computation for
# ANY time-ordered batch split (the streaming determinism contract), on
# timestamps that deliberately include exact-gap boundaries and ties.
# ---------------------------------------------------------------------------


class _FakeState:
    """Minimal GroupState stand-in: exists/get/update only (all the
    transition kernel touches)."""

    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)


def _batch_reference(all_us, gap_us):
    """Independent reference: sessions over globally sorted timestamps."""
    xs = sorted(all_us)
    n_sessions = 0
    prev = None
    for u in xs:
        if prev is None or u - prev > gap_us:
            n_sessions += 1
        prev = u
    return len(xs), n_sessions, xs[0], xs[-1]


def test_session_kernel_matches_batch_for_any_ordered_split():
    import itertools

    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from datafoundation_multi_source_retail_data_integration_hub_spark.streaming.stateful import (
        session_transition,
    )

    GAP = 1000  # small gap in us so generated data straddles it often

    @settings(max_examples=200, deadline=None)
    @given(
        # timestamps drawn near multiples of GAP so exact-boundary gaps
        # (== GAP, merged) and just-over gaps (> GAP, split) both occur,
        # plus duplicates
        st.lists(
            st.integers(min_value=0, max_value=20).flatmap(
                lambda k: st.integers(min_value=k * GAP - 1, max_value=k * GAP + 1)
            ),
            min_size=1,
            max_size=30,
        ),
        st.integers(min_value=1, max_value=4),  # number of batches
        st.randoms(use_true_random=False),
    )
    def check(us, n_batches, rnd):
        xs = sorted(us)
        # any ORDERED split: batch i's timestamps all <= batch i+1's
        cuts = sorted(rnd.choices(range(len(xs) + 1), k=n_batches - 1))
        pieces = []
        lo = 0
        for c in [*cuts, len(xs)]:
            pieces.append(xs[lo:c])
            lo = c
        state = _FakeState()
        fn = session_transition(GAP)
        out = None
        for piece in pieces:
            if not piece and state._v is None:
                continue  # stream wouldn't invoke the group w/o rows/state
            # shuffle within the batch AND split it into several Arrow-like
            # chunks in arbitrary order: applyInPandasWithState delivers a
            # group's batch as multiple pdfs (one per Arrow chunk) in
            # partition/file order, so the kernel must sort ACROSS chunks,
            # not just within each
            shuffled = list(piece)
            rnd.shuffle(shuffled)
            chunk_cuts = sorted(
                rnd.choices(range(len(shuffled) + 1), k=rnd.randint(0, 3))
            )
            chunks, lo2 = [], 0
            for c in [*chunk_cuts, len(shuffled)]:
                chunks.append(shuffled[lo2:c])
                lo2 = c
            frames = iter(
                [
                    pd.DataFrame({"__us": pd.Series(ch, dtype="int64")})
                    for ch in chunks
                ]
            )
            out = list(fn((7,), frames, state))[-1]
        got = (
            int(out["n_events"].iloc[0]),
            int(out["n_sessions"].iloc[0]),
            int(out["first_us"].iloc[0]),
            int(out["last_us"].iloc[0]),
        )
        assert got == _batch_reference(xs, GAP)

    check()


def test_committed_store_versions_ignores_torn_writes(tmp_path):
    """A crash mid-overwrite leaves a v{N} dir WITHOUT _SUCCESS; the
    version counter must not count it, so the retried batch classifies
    as FRESH (re-derives from the immutable v{N-1}) instead of tripping
    the run-level fresh==1 assertion as a phantom redelivery."""
    from datafoundation_multi_source_retail_data_integration_hub_spark.streaming.pipelines import (
        committed_store_versions,
    )

    store = tmp_path / "store"
    assert committed_store_versions(str(store)) == 0  # missing dir
    store.mkdir()
    assert committed_store_versions(str(store)) == 0

    def commit(v: int) -> None:
        d = store / f"v{v}"
        d.mkdir()
        (d / "part-00000.parquet").write_bytes(b"x")
        (d / "_SUCCESS").write_bytes(b"")

    commit(0)
    commit(1)
    assert committed_store_versions(str(store)) == 2
    # torn write: dir + data file but no _SUCCESS — a retried batch_id=2
    # sees versions==2 -> fresh, exactly the recoverable-run behavior
    torn = store / "v2"
    torn.mkdir()
    (torn / "part-00000.parquet").write_bytes(b"x")
    assert committed_store_versions(str(store)) == 2
    # non-version junk (Spark temp dirs, markers) never counts
    (store / "_temporary").mkdir()
    (store / "v3x").mkdir()
    assert committed_store_versions(str(store)) == 2
    # committing the torn version counts it again
    (torn / "_SUCCESS").write_bytes(b"")
    assert committed_store_versions(str(store)) == 3
