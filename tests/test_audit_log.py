"""etl_run_log audit table: appends accumulate, one row per run
(reference ``README.md:74-79`` staging surface)."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from datafoundation_multi_source_retail_data_integration_hub_spark.pipelines import audit
from datafoundation_multi_source_retail_data_integration_hub_spark.pipelines.audit import (
    RUN_LOG_TABLE,
    RunLogEntry,
    log_run,
    logged_write,
    run_history,
)
from datafoundation_multi_source_retail_data_integration_hub_spark.sources.writers import (
    read_table,
    write_table,
)

DB = "audit_test_db"


@pytest.fixture()
def clean_db(spark):
    yield
    spark.sql(f"DROP DATABASE IF EXISTS {DB} CASCADE")


def test_two_runs_append_two_rows(spark, clean_db):
    t1 = datetime(2026, 1, 1, 0, 0, 0)
    t2 = datetime(2026, 1, 1, 0, 5, 0)
    log_run(
        spark,
        RunLogEntry("run-1", "dim_customer", 100, "success", t1, t2),
        database=DB,
    )
    log_run(
        spark,
        RunLogEntry("run-2", "dim_customer", 120, "success", t2, t2),
        database=DB,
    )
    log = read_table(spark, RUN_LOG_TABLE, database=DB)
    assert log.count() == 2
    assert {r["run_id"] for r in log.collect()} == {"run-1", "run-2"}
    newest = run_history(spark, database=DB).first()
    assert newest["run_id"] == "run-2"


def test_logged_write_records_count_and_status(spark, clean_db):
    df = spark.range(0, 42).select(F.col("id").alias("k"))
    t = datetime(2026, 2, 1, 12, 0, 0)
    n = logged_write(df, "some_table", "run-9", t, t, database=DB)
    assert n == 42
    assert read_table(spark, "some_table", database=DB).count() == 42
    row = read_table(spark, RUN_LOG_TABLE, database=DB).first()
    assert (row["run_id"], row["table_name"], row["n_rows"], row["status"]) == (
        "run-9",
        "some_table",
        42,
        "success",
    )


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_logged_write_adds_only_the_audit_append(spark, clean_db):
    # a shuffle in the plan: the write alone runs more than one job
    def frame():
        return spark.range(0, 500).groupBy((F.col("id") % 7).alias("k")).count()

    t = datetime(2026, 2, 1, 12, 0, 0)
    log_run(spark, RunLogEntry("run-0", "t", 0, "success", t, t), database=DB)
    write_table(frame(), "plain", database=DB)  # creates the table
    before = _jobs(spark)
    write_table(frame(), "plain", database=DB)
    write_jobs = _jobs(spark) - before
    logged_write(frame(), "logged", "run-1", t, t, database=DB)  # creates the table
    before = _jobs(spark)
    assert logged_write(frame(), "logged", "run-2", t, t, database=DB) == 7
    assert _jobs(spark) - before == write_jobs + 1


def test_failed_logged_write_logs_zero_rows_without_waiting(spark, clean_db, monkeypatch):
    gets = []

    class SpyObservation(audit.Observation):
        @property
        def get(self):
            gets.append(1)
            return super().get

    monkeypatch.setattr(audit, "Observation", SpyObservation)
    # fails inside the write's tasks, after the plan started running
    df = spark.range(0, 5).select(
        F.when(F.col("id") == 3, F.raise_error(F.lit("boom"))).otherwise(F.col("id")).alias("k")
    )
    t = datetime(2026, 2, 1, 12, 0, 0)
    with pytest.raises(RuntimeError, match="write of broken failed"):
        logged_write(df, "broken", "run-f", t, t, database=DB)
    assert gets == []
    row = read_table(spark, RUN_LOG_TABLE, database=DB).first()
    assert (row["run_id"], row["n_rows"], row["status"]) == ("run-f", 0, "failed")
    assert "boom" in row["message"]


def test_stream_sink_replayed_batch_logs_once(spark, clean_db, tmp_path):
    """Exactly-once audit on the incremental path: drive a real
    availableNow stream through a logged_stream_sink-wrapped foreachBatch,
    then replay a batch handler invocation with the same batchId (what a
    crash between sink commit and checkpoint commit produces) — the sink
    re-runs (idempotence is its own contract) but the audit table must
    hold exactly one row per (stream, batchId)."""
    from datafoundation_multi_source_retail_data_integration_hub_spark.pipelines.audit import (
        logged_stream_sink,
    )

    src = str(tmp_path / "incoming")
    out = str(tmp_path / "sunk")
    spark.range(0, 25).select(F.col("id").alias("k")).write.parquet(src)

    sunk = []

    def inner(batch, batch_id):
        # batchId-named output dir: naturally idempotent under replay
        batch.write.mode("overwrite").parquet(f"{out}/b{batch_id}")
        sunk.append(batch_id)

    t = datetime(2026, 3, 1, 0, 0, 0)
    handle = logged_stream_sink(inner, "dim_target", "stream-A", t, t, database=DB)

    q = (
        spark.readStream.schema("k long")
        .parquet(src)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)

    log = read_table(spark, RUN_LOG_TABLE, database=DB)
    assert log.count() == len(sunk) == 1
    row = log.first()
    assert (row["run_id"], row["table_name"], row["n_rows"], row["status"]) == (
        "stream-A#0",
        "dim_target",
        25,
        "success",
    )

    # replay batch 0 (at-least-once delivery after a crash): the inner
    # sink runs again, the audit row does not duplicate
    handle(spark.read.parquet(src), 0)
    assert sunk == [0, 0]
    assert read_table(spark, RUN_LOG_TABLE, database=DB).count() == 1
    # a genuinely new batch still logs
    handle(spark.read.parquet(src).limit(3), 1)
    log = read_table(spark, RUN_LOG_TABLE, database=DB)
    assert log.count() == 2
    assert {r["run_id"] for r in log.collect()} == {"stream-A#0", "stream-A#1"}
