"""tools/layer_profile.py attributes jobs to queries by job group, and
group-less or foreign-group jobs by span, on a tiny synthetic event log;
through a real session, pipeline job counts stay under their caps and the
Catalyst phases cover every execution of a call."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

from tests.conftest import SF_SMOKE

REPO = Path(__file__).resolve().parent.parent


def _tool():
    spec = importlib.util.spec_from_file_location(
        "layer_profile", REPO / "tools" / "layer_profile.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


lp = _tool()


def _job(job_id, submit, end, stages, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return [
        {"Event": "SparkListenerJobStart", "Job ID": job_id, "Submission Time": submit,
         "Stage IDs": stages, "Properties": props},
        {"Event": "SparkListenerJobEnd", "Job ID": job_id, "Completion Time": end},
    ]


def _stage(stage_id, tasks, write=0):
    return [{"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": stage_id}}] + [
        {"Event": "SparkListenerTaskEnd", "Stage ID": stage_id,
         "Task Metrics": {"Executor Run Time": 10, "Executor CPU Time": 5_000_000,
                          "JVM GC Time": 0,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": write}}}
        for _ in range(tasks)
    ]


EVENTS = [
    # set-up or warm-up job outside every span: left out
    *_job(0, 50, 60, [0]), *_stage(0, 4),
    # q1: its own group; stage 2 is listed but skipped (never runs)
    *_job(1, 110, 140, [1, 2], group="q1"), *_stage(1, 3, write=2**20),
    # q1: a stream-thread job with no group, submitted inside q1's span
    *_job(2, 150, 170, [3]), *_stage(3, 1),
    # q2's group, submitted inside q1's span: q2's, never q1's
    *_job(3, 190, 195, [4], group="q2"), *_stage(4, 2),
    # q2: a job of a group that names no query, inside q2's span
    *_job(4, 310, 330, [5], group="warm:q0"), *_stage(5, 5),
    # q2: its own group
    *_job(5, 340, 360, [6], group="q2"), *_stage(6, 1),
]
SPANS = [lp.trace.OpSpan("q1", 100, 200), lp.trace.OpSpan("q2", 300, 400)]


@pytest.fixture
def log_dir(tmp_path):
    (tmp_path / "app-1").write_text("".join(json.dumps(e) + "\n" for e in EVENTS))
    return str(tmp_path)


def test_jobs_go_to_their_group_else_to_the_span_they_fall_in(log_dir):
    jobs, _ = lp.trace.parse_events(lp.trace.read_events(log_dir))
    by = {k: sorted(j.job_id for j in v) for k, v in lp.attribute(jobs, SPANS).items()}
    # q1: its group's job 1 and the group-less job 2, never q2's job 3;
    # q2: its group's jobs 3 and 5 and the foreign-group job 4
    assert by == {"q1": [1, 2], "q2": [3, 4, 5]}


def test_skipped_stages_add_no_tasks(log_dir):
    t = lp.layer_tables(log_dir, SPANS)
    q1 = t["q1"]
    assert q1["jobs"] == 2 and q1["untagged_jobs"] == 1
    assert q1["stages"] == 2 and q1["tasks"] == 4  # stage 2 never ran
    assert q1["shuffle_write_mb"] == pytest.approx(3.0)
    assert t["q2"]["tasks"] == 8


# job counts of the measured (second) call, recorded on 4 cores; a
# pipeline may get cheaper, never dearer. The three SCD2 caps are the
# one-exchange merge's counts (the join-chain merge ran 42, 15 and 23).
# The three corpus searches probe their session-held index (the
# per-request rebuild ran 7, 7 and 10 on the benchmark's corpus).
# The count can move with timing (one full-suite run read 43 for the
# join-chain scd2_partition_merge where quiet runs read 42; an AQE stage
# submitted before a re-plan drops it is one way),
# so each pipeline runs once more and the lesser count is pinned.
JOB_CAPS = {
    "scd2_partition_merge": 20,
    "scd2_customer_two_batch": 5,
    "stream_scd2_upsert": 14,
    "mart_incremental_refresh": 20,
    "stream_user_session_stats": 11,
    "fact_layout_skipping": 24,
    "warehouse_key_erasure": 17,
    "embedding_ann_ivf": 6,
    "embedding_ann_pq": 3,
    "doc_minhash_lsh_pairs": 4,
}

_PROFILE = """
import json, shutil, sys
sys.path.insert(0, sys.argv[1])
from datetime import datetime
import layer_profile as lp
from datafoundation_multi_source_retail_data_integration_hub_spark.pipelines.audit import (
    RunLogEntry, log_run,
)
import __spark_entry__ as entry
from datafoundation_multi_source_retail_data_integration_hub_spark.operators.storage import (
    unpersist_all,
)
spark, log_dir = lp.open_session("layer-profile-counts")
spans = lp.Spans(spark)
sf, names = sys.argv[2], sys.argv[3].split(",")
rows = lp.profile_queries(spark, spans, sf, names)
qs = entry.queries()
for name in names:
    spans.run(name + "#3", lambda: qs[name](spark, sf).toPandas())
    unpersist_all()
t = datetime(2026, 1, 1)
log_run(spark, RunLogEntry("r1", "t", 1, "success", t, t))  # creates the table
spans.run("log_run", lambda: log_run(spark, RunLogEntry("r2", "t", 1, "success", t, t)))
spark.stop()
print(json.dumps({"layers": lp.layer_tables(log_dir, spans.spans), "rows": rows}))
shutil.rmtree(log_dir)
"""


def test_pipeline_counts_through_the_collector(tmp_path):
    # the caps were recorded on 4 cores; AQE's plans follow the core count
    env = dict(os.environ, PYTHONPATH=str(REPO), SPARK_GRAFT_CPUS="4")
    env.setdefault("SPARK_DRIVER_MEMORY", "2g")
    proc = subprocess.run(
        [sys.executable, "-c", _PROFILE, str(REPO / "tools"), SF_SMOKE, ",".join(JOB_CAPS)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    tables = out["layers"]
    for name, cap in JOB_CAPS.items():
        jobs = min(tables[name]["jobs"], tables[name + "#3"]["jobs"])
        assert 0 < jobs <= cap, (name, tables[name], tables[name + "#3"])
    # the stream's micro-batch jobs run on its own thread, without the group
    assert tables["stream_user_session_stats"]["untagged_jobs"] > 0
    # Catalyst phases count every execution of the call, not only the
    # returned frame's: the merge's inner writes and checkpoints plan too
    merge = out["rows"]["scd2_partition_merge"]
    assert merge["analysis"] + merge["optimization"] + merge["planning"] > 0.05, merge
    # a fresh JVM compiles code for each pipeline's first call
    assert all(r["cg_first"] > 0 for r in out["rows"].values()), out["rows"]
    audit = tables["log_run"]
    assert (audit["jobs"], audit["stages"], audit["tasks"]) == (1, 1, 1), audit
