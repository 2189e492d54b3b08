"""Event-log parsing and job-to-op attribution on a tiny synthetic log."""

import json

import pytest

from perfbench import trace


def _write_log(path, events):
    path.write_text("".join(json.dumps(e) + "\n" for e in events))


def _task_end(stage, run_ms, cpu_ns, gc_ms, read=0, write=0, out=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": read},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": write},
            "Output Metrics": {"Bytes Written": out, "Records Written": 1},
        },
    }


EVENTS = [
    {"Event": "SparkListenerApplicationStart", "Timestamp": 0},
    # set-up job, outside every op
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 50,
     "Stage IDs": [0], "Properties": {}},
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 90},
    # op1: a tagged job, then a pool job that lost the job group and
    # overlaps it
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 110,
     "Stage IDs": [1, 2], "Properties": {"spark.jobGroup.id": "op1"}},
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 120,
     "Stage IDs": [3], "Properties": {}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 3}},
    _task_end(1, 30, 20_000_000, 1, write=2**20),
    _task_end(1, 30, 20_000_000, 1, write=2**20),
    _task_end(3, 40, 10_000_000, 0, read=2**20, out=3 * 2**20),
    {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 160},
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 150},
    # op2: one job, and a long gap with no job running
    {"Event": "SparkListenerJobStart", "Job ID": 3, "Submission Time": 300,
     "Stage IDs": [4], "Properties": {"spark.jobGroup.id": "op2"}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 4}},
    _task_end(4, 10, 5_000_000, 0),
    {"Event": "SparkListenerJobEnd", "Job ID": 3, "Completion Time": 320},
]
SPANS = [trace.OpSpan("op1", 100, 200), trace.OpSpan("op2", 200, 400)]


@pytest.fixture
def log_dir(tmp_path):
    _write_log(tmp_path / "local-1", EVENTS)
    (tmp_path / ".local-1.crc").write_bytes(b"\x00checksum")
    return str(tmp_path)


def test_jobs_attributed_by_interval_not_group(log_dir):
    jobs, _ = trace.parse_events(trace.read_events(log_dir))
    by_op = trace.attribute(jobs, SPANS)
    assert sorted(j.job_id for j in by_op["op1"]) == [1, 2]
    assert [j.job_id for j in by_op["op2"]] == [3]


def test_layer_table(log_dir):
    t = trace.layer_tables(log_dir, SPANS)
    op1, op2 = t["op1"], t["op2"]
    assert op1["jobs"] == 2 and op1["untagged_jobs"] == 1
    # stage 2 never ran (skipped), so it is not counted
    assert op1["stages"] == 2 and op1["tasks"] == 3
    assert op1["job_busy_s"] == pytest.approx(0.050)  # union of [110,150] and [120,160]
    assert op1["job_sum_s"] == pytest.approx(0.080)
    assert op1["job_gap_s"] == pytest.approx(0.050)
    assert op1["executor_run_s"] == pytest.approx(0.100)
    assert op1["executor_cpu_s"] == pytest.approx(0.050)
    assert op1["executor_gc_s"] == pytest.approx(0.002)
    assert op1["shuffle_write_mb"] == pytest.approx(2.0)
    assert op1["shuffle_read_mb"] == pytest.approx(1.0)
    assert op1["output_mb"] == pytest.approx(3.0)
    assert op2["jobs"] == 1 and op2["untagged_jobs"] == 0
    assert op2["job_gap_s"] == pytest.approx(0.180)


def test_union_ms():
    assert trace.union_ms([]) == 0
    assert trace.union_ms([(0, 10), (5, 15), (20, 30)]) == 25
    assert trace.union_ms([(20, 30), (0, 40)]) == 40
