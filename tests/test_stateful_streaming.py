"""Per-user session stats over a stream: the JVM fold and its replay.

``stream_user_session_stats`` folds each micro-batch into versioned state
with ``operators/sessionize.session_slice`` and ``merge_session_state``.
These tests pin the gap constant against the oracle, the state crossing
two checkpointed runs, the absence of Python and state stores on the
path, and the fold's equality with the batch rule for any time-ordered
split."""

from __future__ import annotations

from pyspark.sql import functions as F

from .conftest import SF_SMOKE


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


def test_session_stats_runs_no_python_and_no_state_store(spark):
    """The session fold runs in the JVM: no stream progress reports a
    state operator, and no SQL execution the call starts plans a Python
    operator or runs a PythonRDD."""
    import threading
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    from datafoundation_multi_source_retail_data_integration_hub_spark.streaming.pipelines import (
        stream_user_session_stats,
    )

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.state_ops = []
            self.lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            with self.lock:
                self.state_ops.append(list(event.progress.stateOperators or []))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    sc = spark.sparkContext._jsc.sc()
    sql_store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        listed = sql_store.executionsList()
        return [listed.apply(i) for i in range(listed.size())]

    def rdd_names(job_id):
        names = []
        graphs = sc.statusStore().operationGraphForJob(job_id)
        for g in (graphs.apply(i) for i in range(graphs.size())):
            clusters = [g.rootCluster()]
            while clusters:
                c = clusters.pop()
                nodes, kids = c.childNodes(), c.childClusters()
                names += [nodes.apply(i).name() for i in range(nodes.size())]
                clusters += [kids.apply(i) for i in range(kids.size())]
        return names

    seen = {e.executionId() for e in executions()}
    listener = Progress()
    spark.streams.addListener(listener)
    try:
        stream_user_session_stats(spark, SF_SMOKE).collect()
        # progress events reach Python asynchronously; one per run at least
        deadline = time.monotonic() + 30
        while len(listener.state_ops) < 2 and time.monotonic() < deadline:
            time.sleep(0.1)
    finally:
        spark.streams.removeListener(listener)
    sc.listenerBus().waitUntilEmpty(30_000)

    assert len(listener.state_ops) >= 2
    assert all(ops == [] for ops in listener.state_ops)
    ran = [e for e in executions() if e.executionId() not in seen]
    assert ran
    forbidden = ("FlatMapGroupsInPandasWithState", "ArrowEvalPython", "PythonRDD")
    for e in ran:
        plan = e.physicalPlanDescription()
        jobs = e.jobs().keysIterator()
        names = []
        while jobs.hasNext():
            names += rdd_names(jobs.next())
        for bad in forbidden:
            assert bad not in plan, (bad, e.description())
            assert bad not in names, (bad, e.description())


# ---------------------------------------------------------------------------
# Property: the cross-batch session fold equals the batch computation for
# ANY time-ordered batch split (the streaming determinism contract), on
# timestamps that deliberately include exact-gap boundaries and ties.
# ---------------------------------------------------------------------------


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


_GAP_S = 1
_GAP = _GAP_S * 1_000_000
_N_BATCHES = 4

# Per-user splits that must appear in every folded frame, one user each:
# a cross-batch gap of exactly the gap (continues), gap + 1 (opens),
# gap - 1 (continues), a tie across the batch boundary, a user with state
# missing from a batch, and a user first seen in a later batch.
_FIXED_SPLITS = (
    [[0], [_GAP]],
    [[0], [_GAP + 1]],
    [[0], [_GAP - 1]],
    [[5, 5], [5], [5, _GAP + 6]],
    [[0], [], [_GAP + 1], []],
    [[], [], [0, _GAP, 2 * _GAP + 1]],
)


def _fold_splits(spark, splits):
    """Fold every user's ordered split through ``session_slice`` and
    ``merge_session_state``: user ``i`` owns ``splits[i]``, and batch ``k``
    of the fold holds piece ``k`` of every user. Returns ``{user: row}``."""
    from datafoundation_multi_source_retail_data_integration_hub_spark.functions.local import (
        local_frame,
    )
    from datafoundation_multi_source_retail_data_integration_hub_spark.operators.sessionize import (
        merge_session_state,
        session_slice,
    )

    state = None
    for k in range(_N_BATCHES):
        rows = [
            (user, us)
            for user, pieces in enumerate(splits)
            for us in (pieces[k] if k < len(pieces) else [])
        ]
        batch = local_frame(spark, rows, "user_id long, us long").select(
            "user_id", F.timestamp_micros("us").alias("ts")
        )
        piece = session_slice(batch, _GAP_S)
        state = piece if state is None else merge_session_state(state, piece, _GAP_S)
    return {r["user_id"]: r for r in state.collect()}


def test_session_kernel_matches_batch_for_any_ordered_split(spark):
    """The fold equals the batch computation for ANY time-ordered split
    into 1-4 batches, on timestamps that deliberately include exact-gap
    boundaries, gap +- 1 and ties. Every generated split is its own user
    in one frame, so each hypothesis example is one 4-batch fold."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    # timestamps drawn near multiples of the gap so exact-boundary gaps
    # (== gap, continue) and just-over gaps (> gap, open) both occur,
    # plus duplicates
    near_gap = st.integers(min_value=0, max_value=20).flatmap(
        lambda k: st.integers(min_value=k * _GAP - 1, max_value=k * _GAP + 1)
    )

    @st.composite
    def ordered_split(draw):
        xs = sorted(draw(st.lists(near_gap, min_size=1, max_size=30)))
        n_batches = draw(st.integers(min_value=1, max_value=_N_BATCHES))
        # any ORDERED split: piece i's timestamps all <= piece i+1's; a
        # cut at 0 makes the user first appear in a later batch, and
        # fewer batches than the fold leave the user out of later ones
        cuts = sorted(
            draw(
                st.lists(
                    st.integers(min_value=0, max_value=len(xs)),
                    min_size=n_batches - 1,
                    max_size=n_batches - 1,
                )
            )
        )
        bounds = [0, *cuts, len(xs)]
        return [xs[lo:hi] for lo, hi in zip(bounds, bounds[1:])]

    @settings(max_examples=6, deadline=None)
    @given(st.lists(ordered_split(), min_size=20, max_size=60))
    def check(generated):
        splits = [*_FIXED_SPLITS, *generated]
        got = _fold_splits(spark, splits)
        assert set(got) == set(range(len(splits)))
        for user, pieces in enumerate(splits):
            r = got[user]
            assert (
                r["n_events"],
                r["n_sessions"],
                r["first_us"],
                r["last_us"],
            ) == _batch_reference([u for p in pieces for u in p], _GAP), pieces

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
