"""functions/local.local_frame: driver-local rows planned as a JVM
LocalRelation — same values and schema as ``createDataFrame(rows,
schema)``, but no Python worker task when an action runs on it."""

import math
import time
from datetime import date, datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datafoundation_multi_source_retail_data_integration_hub_spark.functions.local import (
    local_frame,
)

SCHEMA = (
    "run_id string, table_name string, n_rows long, status string, "
    "started_at timestamp, finished_at timestamp, message string"
)
ROW = ("r1", "t1", 5, "success", datetime(2026, 1, 1), datetime(2026, 1, 2), "")


def _python_lineage(df) -> bool:
    """True when executing ``df`` runs a PythonRDD, i.e. a Python worker."""
    return "PythonRDD" in df._jdf.queryExecution().toRdd().toDebugString()


def _canon(rows):
    return [
        tuple("NaN" if isinstance(v, float) and math.isnan(v) else v for v in r)
        for r in rows
    ]


def test_single_slice_by_default(spark):
    df = local_frame(spark, [ROW], SCHEMA)
    assert df.rdd.getNumPartitions() == 1


def test_values_and_schema_match_plain_createDataFrame(spark):
    plain = spark.createDataFrame([ROW], SCHEMA)
    ours = local_frame(spark, [ROW], SCHEMA)
    assert ours.schema == plain.schema
    assert ours.collect() == plain.collect()


def test_empty_rows_keep_schema(spark):
    df = local_frame(spark, [], "hv long")
    assert df.count() == 0
    assert df.schema == T.StructType([T.StructField("hv", T.LongType(), True)])


def test_optimized_plan_is_local_relation(spark):
    df = local_frame(spark, [ROW], SCHEMA)
    plan = df._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    assert not _python_lineage(df)
    # the detector is live: the pickled-row path does run Python
    assert _python_lineage(spark.createDataFrame([ROW], SCHEMA))


def test_partitions_follow_local_table_scan(spark):
    n = 10_001
    df = local_frame(spark, [(i,) for i in range(n)], "x long")
    assert df.rdd.getNumPartitions() == min(n, spark.sparkContext.defaultParallelism)
    assert df.count() == n


def test_log_run_append_starts_no_python_worker_task(spark, monkeypatch):
    from datafoundation_multi_source_retail_data_integration_hub_spark.pipelines import (
        audit,
    )
    from datafoundation_multi_source_retail_data_integration_hub_spark.sources.writers import (
        read_table,
    )

    db = "local_frame_audit"
    written = []
    real_write = audit.write_table

    def spy(df, *args, **kwargs):
        written.append(df)
        return real_write(df, *args, **kwargs)

    monkeypatch.setattr(audit, "write_table", spy)
    try:
        audit.log_run(spark, audit.RunLogEntry(*ROW), database=db)
        assert len(written) == 1
        assert not _python_lineage(written[0])
        assert read_table(spark, audit.RUN_LOG_TABLE, database=db).count() == 1
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


@pytest.fixture
def new_york_tz(monkeypatch):
    """Driver-local zone 5 h behind the session's UTC."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_edge_values_match_plain_createDataFrame(spark, new_york_tz):
    schema = (
        "s string, l long, i int, d double, b boolean, "
        "ts timestamp, dt date, ntz timestamp_ntz"
    )
    rows = [
        ("é日本 ✓", 1, 2, float("nan"), True, datetime(2026, 1, 1, 3, 4, 5, 123456),
         date(2020, 2, 29), datetime(2026, 3, 8, 2, 30)),
        (None, None, None, None, None, None, None, None),
        ("", -(1 << 62), -7, -0.0, False, datetime(1969, 12, 31, 23, 59, 59),
         date(1969, 12, 31), datetime(1900, 1, 1)),
    ]
    plain = spark.createDataFrame(rows, schema)
    ours = local_frame(spark, rows, schema)
    assert ours.schema == plain.schema
    assert _canon(ours.collect()) == _canon(plain.collect())
    # same instants, not just the same local wall clocks
    micros = [F.unix_micros("ts"), F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")]
    assert ours.select(*micros).collect() == plain.select(*micros).collect()
