"""Per-query layer profile from Spark's event log: the repo's one metrics
collector.

One session runs with the event log on. Each query is called twice: a
first call (its Python build time is reported; the rest is warm-up), then
the measured call under ``setJobGroup(name)``. Spark is stopped and the
log is parsed with ``perfbench.trace``. A job belongs to a query when its
job group is the query's name (``overlap`` keeps the caller's group); a
job whose group names no query (a stream thread's job) belongs to the
query whose measured span its submission falls in.

Per query: wall; Python build time of the first and the measured call,
and whether the measured call reused a prepared plan
(``storage.prepared``); the Catalyst phases summed over every SQL
execution begun in the measured call; the classes Spark's code generator
compiled during the first and the measured call; jobs, stages run, tasks;
job busy time and the driver-side gap around jobs; executor run, CPU and
GC time; shuffle read, write and spill; output bytes.

Run: ``python tools/layer_profile.py [--sf DIR] [--queries a,b]``
Prints markdown on stdout; LAYERS.md is this output at sf0.1.
"""

from __future__ import annotations

import argparse
import os
import shlex
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import trace  # noqa: E402


def open_session(app_name: str):
    """A session with Spark's event log on, and the log's directory."""
    from datafoundation_multi_source_retail_data_integration_hub_spark.session import (
        get_spark,
    )

    log_dir = tempfile.mkdtemp(prefix="layer-profile-")
    spark = get_spark(
        app_name=app_name,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        },
    )
    return spark, log_dir


class CatalystPhases:
    """A py4j ``QueryExecutionListener`` that keeps the Catalyst phases
    (analysis, optimization, planning) of every SQL execution the session
    finishes: the returned frame's collect and every inner write, count
    or checkpoint. Each execution is keyed by when its first phase began,
    so ``per_span`` can sum the executions that began inside a span."""

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        self.jsc = spark.sparkContext._jsc
        self.identity = spark._jvm.System.identityHashCode
        self.records: dict[int, tuple[float, dict[str, float]]] = {}
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns) -> None:
        self._record(qe)

    def onFailure(self, func_name, qe, exception) -> None:
        self._record(qe)

    def _record(self, qe) -> None:
        phases, start = {}, None
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            summary = kv._2()
            phases[kv._1()] = (summary.endTimeMs() - summary.startTimeMs()) / 1e3
            start = summary.startTimeMs() if start is None else min(start, summary.startTimeMs())
        if start is not None:  # an execution run twice is counted once
            self.records[self.identity(qe)] = (start, phases)

    def per_span(self, spans: list[trace.OpSpan]) -> dict[str, dict[str, float]]:
        """Seconds per phase summed over the executions begun in each span,
        once every finished execution has been reported."""
        self.jsc.sc().listenerBus().waitUntilEmpty()
        out = {s.op_id: dict.fromkeys(("analysis", "optimization", "planning"), 0.0) for s in spans}
        for start, phases in list(self.records.values()):
            s = trace.span_at(spans, start)
            if s is not None:
                for name, secs in phases.items():
                    if name in out[s.op_id]:
                        out[s.op_id][name] += secs
        return out


class Spans:
    """Runs calls under their own job group and keeps their spans."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[trace.OpSpan] = []

    def run(self, span_id: str, fn):
        self.sc.setJobGroup(span_id, span_id)
        t0 = time.time() * 1e3
        try:
            return fn()
        finally:
            self.spans.append(trace.OpSpan(span_id, t0, time.time() * 1e3))
            self.sc._jsc.clearJobGroup()


def attribute(jobs: dict[int, trace.Job], spans: list[trace.OpSpan]) -> dict[str, list[trace.Job]]:
    """Jobs per span: by job group when the group names a span, else by
    submission time inside a span. Jobs outside every span are left out."""
    out: dict[str, list[trace.Job]] = {s.op_id: [] for s in spans}
    for job in jobs.values():
        if job.group in out:
            out[job.group].append(job)
        else:
            s = trace.span_at(spans, job.submit_ms)
            if s is not None:
                out[s.op_id].append(job)
    return out


def layer_tables(log_dir: str, spans: list[trace.OpSpan]) -> dict[str, dict[str, float]]:
    """``trace.op_table`` per span from a stopped session's event log."""
    jobs, stages = trace.parse_events(trace.read_events(log_dir))
    by_span = attribute(jobs, spans)
    return {s.op_id: trace.op_table(s, by_span[s.op_id], stages) for s in spans}


def compiled_classes(spark) -> int:
    """Classes Spark's code generator has compiled in this JVM: an exact
    count (the compile-time histogram behind it samples)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def profile_queries(spark, spans: Spans, sf_dir: str, names: list[str]) -> dict[str, dict]:
    """Driver-side numbers per query; the measured call's span is named
    after the query."""
    import __spark_entry__ as entry
    from datafoundation_multi_source_retail_data_integration_hub_spark.operators import (
        storage,
    )

    qs = entry.queries()
    phases = CatalystPhases(spark)
    out: dict[str, dict] = {}
    for name in names:
        cg0 = compiled_classes(spark)
        t0 = time.perf_counter()
        df = qs[name](spark, sf_dir)
        build_first = time.perf_counter() - t0
        df.toPandas()
        storage.unpersist_all()
        cg1 = compiled_classes(spark)
        prepared = ("read", name, sf_dir) in storage.cached_keys(storage.SESSION)

        def measured():
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            build = time.perf_counter() - t0
            df.toPandas()
            return build, time.perf_counter() - t0

        build, wall = spans.run(name, measured)
        storage.unpersist_all()
        out[name] = {
            "wall_s": wall,
            "build_first_s": build_first,
            "build_s": build,
            "prepared": prepared,
            "cg_first": cg1 - cg0,
            "cg": compiled_classes(spark) - cg1,
        }
        print(f"# {name}: {wall:.2f}s", file=sys.stderr)
    for span_id, sums in phases.per_span(spans.spans).items():
        if span_id in out:
            out[span_id].update(sums)
    return out


COLUMNS = [
    ("wall (s)", "wall_s"),
    ("prep", "prepared"),
    ("build 1st (s)", "build_first_s"),
    ("build (s)", "build_s"),
    ("analysis (s)", "analysis"),
    ("optim (s)", "optimization"),
    ("planning (s)", "planning"),
    ("cg 1st", "cg_first"),
    ("cg", "cg"),
    ("jobs", "jobs"),
    ("by span", "untagged_jobs"),
    ("stages", "stages"),
    ("tasks", "tasks"),
    ("busy (s)", "job_busy_s"),
    ("gap (s)", "job_gap_s"),
    ("run (s)", "executor_run_s"),
    ("cpu (s)", "executor_cpu_s"),
    ("gc (s)", "executor_gc_s"),
    ("shR (MiB)", "shuffle_read_mb"),
    ("shW (MiB)", "shuffle_write_mb"),
    ("spill (MiB)", "shuffle_spill_mb"),
    ("out (MiB)", "output_mb"),
]


def _cell(v) -> str:
    if isinstance(v, bool):
        return "yes" if v else "no"
    return str(v) if isinstance(v, int) else f"{v:.2f}"


def markdown(rows: dict[str, dict]) -> list[str]:
    lines = [
        "| query | " + " | ".join(h for h, _ in COLUMNS) + " |",
        "|---" * (len(COLUMNS) + 1) + "|",
    ]
    for name, r in sorted(rows.items(), key=lambda kv: -kv[1]["wall_s"]):
        lines.append(f"| `{name}` | " + " | ".join(_cell(r[k]) for _, k in COLUMNS) + " |")
    return lines


def main() -> None:
    import bench

    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=bench.SF_DIR)
    ap.add_argument("--queries", default=None, help="comma list; default: every bench query")
    args = ap.parse_args()
    names = [n.strip() for n in args.queries.split(",") if n.strip()] if args.queries else bench.HEADLINE

    spark, log_dir = open_session("layer-profile")
    try:
        cpus = spark.sparkContext.defaultParallelism
        cache = spark.conf.get("spark.sql.codegen.cache.maxEntries")
        spans = Spans(spark)
        rows = profile_queries(spark, spans, args.sf, names)
        spark.stop()
        for name, table in layer_tables(log_dir, spans.spans).items():
            rows[name].update(table)
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)

    command = shlex.join(["python", "tools/layer_profile.py", *sys.argv[1:]])
    print("# Layer profile per query\n")
    print(f"Generated by `{command}` on {cpus} CPUs (Spark `local[{cpus}]`).\n")
    print(
        "Each query runs twice in one session; the row is the second call. "
        "*build 1st* is the first call's Python build; *prep* says the second "
        "call reused the first's analyzed plan. *analysis*, *optim* and "
        "*planning* sum the Catalyst phases of every SQL execution begun "
        "during the call (its collect and each inner write, count or "
        "checkpoint); AQE re-planning is not among them. Jobs are the query's job group "
        "plus, under *by span*, group-less jobs (stream threads) submitted "
        "during the call. *gap* is wall time with no job of the query running: "
        "Python build, Catalyst, catalog calls, commits, result transfer. "
        "Stages and tasks count stages that ran; skipped stages add nothing. "
        "*cg 1st* and *cg* count the classes Spark's code generator compiled "
        "during the first and the measured call; *cg 1st* is the query's "
        "code footprint beyond the classes earlier rows already compiled. "
        "The measured call directly follows the first, so *cg* reads 0 "
        "whenever the cache holds one query's classes; eviction between "
        "kinds shows only when their summed footprint exceeds the cache.\n"
    )
    footprint = sum(r["cg_first"] for r in rows.values())
    print(
        f"The {len(rows)} queries profiled compiled {footprint} classes on their "
        f"first calls; the generated-class cache holds {cache} "
        "(`spark.sql.codegen.cache.maxEntries`).\n"
    )
    asym = {n: r for n, r in rows.items() if n in bench.WORK_ASYMMETRIC}
    gate = {n: r for n, r in rows.items() if n not in bench.WORK_ASYMMETRIC}
    for title, part in (("Work-asymmetric pipelines", asym), ("Gate queries", gate)):
        if part:
            print(f"## {title}\n")
            print("\n".join(markdown(part)) + "\n")


if __name__ == "__main__":
    main()
