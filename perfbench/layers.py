"""Per-layer metrics of a traced run, averaged per timed op unless the
name says otherwise."""

from __future__ import annotations

from statistics import fmean

from perfbench import stats, trace
from perfbench.workloads import ETL


def _mean(xs) -> float:
    xs = list(xs)
    return fmean(xs) if xs else 0.0


def per_layer(tracer, event_dir, workload, warm, timed, start_s, warmup_s, failed_frac):
    """Metric name -> (value, unit) for every per-layer metric of the
    benchmark, from a traced run's set-up (``warm``) and timed ops."""
    ids = [f"t{i}" for i in range(len(timed))]
    timed_ids = set(ids)
    spans = [s for s in tracer.spans if s.op_id in timed_ids]
    table = trace.layer_tables(event_dir, spans)
    rows = [table.get(i, {}) for i in ids]
    queries = [o for o in timed if o.kind != ETL]
    # first calls of a query kind in the process: set-up ops and ``once`` ops
    first = [o for o in warm if o.kind != ETL] + [o for o in queries if o.kind in workload.once]
    repeat = [o for o in queries if o.kind not in workload.once]
    etl = [o for o in timed if o.kind == ETL]
    phases = [tracer.phases[i] for i in ids if i in tracer.phases]
    storage = [tracer.storage.get(i, (0, 0.0)) for i in ids]

    def col(name):
        return _mean(r.get(name, 0.0) for r in rows)

    busy = sum(r.get("job_busy_s", 0.0) for r in rows)
    job_sum = sum(r.get("job_sum_s", 0.0) for r in rows)
    etl_out_mb = sum(r.get("output_mb", 0.0) for r, o in zip(rows, timed) if o.kind == ETL)
    etl_in_mb = sum(o.steps.get("source_bytes", 0) for o in etl) / trace.MB
    # audit rows appended per timed ETL op, from the post-op warehouse counts
    audit = [o.steps["audit_rows"] for o in warm + timed if "audit_rows" in o.steps]
    deltas = [b - a for a, b in zip(audit, audit[1:])]
    appends = deltas[-len(etl) :] if etl else []

    # micro-batch progress reports whose trigger fell inside a timed op
    progress = tracer.listener.records if tracer.listener else []
    recs = [rec for ts, rec in progress if trace.span_at(spans, ts) is not None]
    lat = [o.latency_s for o in timed]

    return {
        "session.start_s": (start_s, "s"),
        "session.warmup_s": (warmup_s, "s"),
        "queries.build_first_s": (_mean(o.build_s for o in first), "s"),
        "queries.build_repeat_s": (_mean(o.build_s for o in repeat), "s"),
        "catalyst.analysis_s": (_mean(p["analysis"] for p in phases), "s"),
        "catalyst.optimization_s": (_mean(p["optimization"] for p in phases), "s"),
        "catalyst.planning_s": (_mean(p["planning"] for p in phases), "s"),
        "queries.collect_s": (_mean(o.collect_s for o in queries), "s"),
        "queries.result_rows": (_mean(o.rows for o in queries), "rows"),
        "spark.jobs": (col("jobs"), "count"),
        "spark.untagged_jobs": (col("untagged_jobs"), "count"),
        "spark.stages": (col("stages"), "count"),
        "spark.tasks": (col("tasks"), "count"),
        "spark.job_gap_s": (col("job_gap_s"), "s"),
        "spark.job_overlap": (job_sum / busy if busy else 1.0, "ratio"),
        "executor.run_s": (col("executor_run_s"), "s"),
        "executor.cpu_s": (col("executor_cpu_s"), "s"),
        "executor.gc_s": (col("executor_gc_s"), "s"),
        "shuffle.read_mb": (col("shuffle_read_mb"), "MB"),
        "shuffle.write_mb": (col("shuffle_write_mb"), "MB"),
        "shuffle.spill_mb": (col("shuffle_spill_mb"), "MB"),
        "writers.output_mb": (col("output_mb"), "MB"),
        "writers.files": (_mean(tracer.files.get(i, 0) for i in ids), "count"),
        "writers.bytes_per_source_byte": (etl_out_mb / etl_in_mb if etl_in_mb else 0.0, "ratio"),
        "audit.appends": (_mean(appends), "count"),
        "etl.extract_s": (_mean(o.steps.get("extract", 0.0) for o in etl), "s"),
        "etl.merge_s": (_mean(o.steps.get("merge", 0.0) for o in etl), "s"),
        "etl.resolve_s": (_mean(o.steps.get("resolve", 0.0) for o in etl), "s"),
        "etl.publish_s": (_mean(o.steps.get("publish", 0.0) for o in etl), "s"),
        "stream.batches": (len(recs) / len(ids) if ids else 0.0, "count"),
        "stream.add_batch_s": (_mean(r["add_batch_s"] for r in recs), "s"),
        "stream.wal_commit_s": (_mean(r["wal_commit_s"] for r in recs), "s"),
        "stream.planning_s": (_mean(r["planning_s"] for r in recs), "s"),
        "stream.state_rows": (_mean(r["state_rows"] for r in recs), "rows"),
        "stream.state_mb": (_mean(r["state_mb"] for r in recs), "MB"),
        "storage.persisted": (_mean(n for n, _ in storage), "count"),
        "storage.cached_mb_peak": (max((mb for _, mb in storage), default=0.0), "MB"),
        "trace.op_p50_s": (stats.hd_percentile(lat, 50), "s"),
        "trace.ops_per_s": (len(lat) / sum(lat), "1/s"),
        "failed_frac": (failed_frac, "ratio"),
    }
