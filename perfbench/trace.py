"""Per-op layer table from Spark's own event log.

Jobs are attributed to the op whose wall-clock interval contains the job's
submission time. The job group set around each op is recorded too, but
is not relied on: jobs submitted from a worker thread (the engine's
``ThreadPoolExecutor`` overlaps) do not inherit the caller's group.
"""

from __future__ import annotations

import json
import os
import threading
from dataclasses import dataclass, field
from datetime import datetime

GROUP_KEY = "spark.jobGroup.id"
MB = 2**20


@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: int
    end_ms: int | None = None
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class Stage:
    completed: bool = False
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0


@dataclass(frozen=True)
class OpSpan:
    op_id: str
    start_ms: float
    end_ms: float


def read_events(log_dir: str):
    """Every JSON event in every file under ``log_dir`` (plain or rolling
    layout, uncompressed)."""
    for root, _, files in os.walk(log_dir):
        for name in sorted(files):
            if name.startswith(".") or name.endswith(".crc"):
                continue  # filesystem checksum files
            with open(os.path.join(root, name), encoding="utf-8") as f:
                for line in f:
                    line = line.strip()
                    if line:
                        yield json.loads(line)


def parse_events(events) -> tuple[dict[int, Job], dict[int, Stage]]:
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = Job(
                ev["Job ID"], props.get(GROUP_KEY), ev["Submission Time"],
                stage_ids=list(ev.get("Stage IDs", [])),
            )
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            stages.setdefault(ev["Stage Info"]["Stage ID"], Stage()).completed = True
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(ev["Stage ID"], Stage())
            m = ev.get("Task Metrics") or {}
            st.tasks += 1
            st.run_ms += m.get("Executor Run Time", 0)
            st.cpu_ns += m.get("Executor CPU Time", 0)
            st.gc_ms += m.get("JVM GC Time", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            st.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return jobs, stages


def span_at(spans: list[OpSpan], ms: float) -> OpSpan | None:
    """The op whose wall-clock interval contains ``ms`` (ops never overlap)."""
    for s in spans:
        if s.start_ms <= ms <= s.end_ms:
            return s
    return None


def attribute(jobs: dict[int, Job], spans: list[OpSpan]) -> dict[str, list[Job]]:
    """Jobs per op, by submission time within the op's interval. Jobs
    submitted outside every op (set-up, checks) are left out."""
    out: dict[str, list[Job]] = {s.op_id: [] for s in spans}
    for job in jobs.values():
        s = span_at(spans, job.submit_ms)
        if s is not None:
            out[s.op_id].append(job)
    return out


def union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def op_table(span: OpSpan, jobs: list[Job], stages: dict[int, Stage]) -> dict[str, float]:
    """Layer numbers for one op from the jobs attributed to it."""
    ivs = [
        (max(j.submit_ms, span.start_ms), min(j.end_ms or span.end_ms, span.end_ms))
        for j in jobs
    ]
    busy = union_ms(ivs)
    job_sum = sum(hi - lo for lo, hi in ivs)
    run = [stages[s] for j in jobs for s in j.stage_ids if s in stages and stages[s].completed]
    return {
        "jobs": len(jobs),
        "untagged_jobs": sum(1 for j in jobs if j.group != span.op_id),
        "stages": len(run),
        "tasks": sum(s.tasks for s in run),
        "job_busy_s": busy / 1e3,
        "job_sum_s": job_sum / 1e3,
        "job_gap_s": (span.end_ms - span.start_ms - busy) / 1e3,
        "executor_run_s": sum(s.run_ms for s in run) / 1e3,
        "executor_cpu_s": sum(s.cpu_ns for s in run) / 1e9,
        "executor_gc_s": sum(s.gc_ms for s in run) / 1e3,
        "shuffle_read_mb": sum(s.shuffle_read_bytes for s in run) / MB,
        "shuffle_write_mb": sum(s.shuffle_write_bytes for s in run) / MB,
        "shuffle_spill_mb": sum(s.spill_bytes for s in run) / MB,
        "output_mb": sum(s.output_bytes for s in run) / MB,
    }


def layer_tables(log_dir: str, spans: list[OpSpan]) -> dict[str, dict[str, float]]:
    jobs, stages = parse_events(read_events(log_dir))
    by_op = attribute(jobs, spans)
    return {s.op_id: op_table(s, by_op[s.op_id], stages) for s in spans}


def catalyst_phases(df) -> dict[str, float]:
    """Seconds per Catalyst phase (analysis, optimization, planning) from
    the frame's query-execution tracker."""
    out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        name, summary = kv._1(), kv._2()
        if name in out:
            out[name] = (summary.endTimeMs() - summary.startTimeMs()) / 1e3
    return out


def _iso_ms(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1e3


def stream_listener():
    """A StreamingQueryListener that keeps one record per micro-batch
    progress report; ``records`` holds (trigger start ms, fields)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def __init__(self) -> None:
            self.records: list[tuple[float, dict[str, float]]] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            d = p.durationMs or {}
            ops = p.stateOperators or []
            rec = {
                "add_batch_s": d.get("addBatch", 0) / 1e3,
                "wal_commit_s": d.get("walCommit", 0) / 1e3,
                "planning_s": d.get("queryPlanning", 0) / 1e3,
                "state_rows": float(sum(o.numRowsTotal for o in ops)),
                "state_mb": sum(o.memoryUsedBytes for o in ops) / MB,
            }
            with self._lock:
                self.records.append((_iso_ms(p.timestamp), rec))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return _Progress()
