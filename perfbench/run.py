"""Engine benchmark: one seeded, closed-loop, single-client run.

Run from the repository root:

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 15 --trace 0

Each run is a fresh process on ``local[$SPARK_GRAFT_CPUS]`` (default: the
CPUs this process may use). It writes its inputs under ``.perfbench_run/``
in the working directory (a fixed corpus, and Superstore batches drawn
from the seed), starts the engine's session, runs the workload's set-up
ops and then its settle ops (second calls, still set-up), then runs the
seeded op sequence in whole blocks of the workload's op mix until at
least ``--seconds`` of op time has passed. Every op's answer is checked
after its timer and its trace span have closed. ``--trace 1``
also records Spark's event log, Catalyst phase times, streaming progress
and storage use, and prints the per-layer metrics instead of the
end-to-end ones.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before it
records the environment and sample counts. Everything the run writes is
removed when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

PACKAGE = "datafoundation_multi_source_retail_data_integration_hub_spark"
# The corpus stands in for a fixed test corpus: the same files on every
# run, whatever the seed. Its scale is set by run time. On 4 cores the
# dashboard's cold set-up pass took 33 s at sf0.002, 44 s at sf0.01 and
# 52 s at sf0.1, and one warm pass over its kinds 10 s, 14 s and 21 s;
# at sf0.1 one dashboard run would take about 120 s.
CORPUS_SF = 0.002  # lineitem 12,000 rows
CORPUS_SEED = 0
ETL_ROWS = 10_000  # rows per Superstore batch, about the reference CSV's 9,994
MB = 2**20


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _hygiene(run_dir: str) -> dict[str, str]:
    """Per-run working directories and a quiet console; returns Spark confs."""
    import tempfile

    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # the engine's checkpoints and stores land here
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    # every JVM, the launcher's too: temp files here, no /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": local,
        "spark.ui.showConsoleProgress": "false",
    }


def _count_files(*dirs: str) -> int:
    return sum(len(files) for d in dirs for _, _, files in os.walk(d))


class _Tracer:
    """Per-op trace records for ``--trace 1``; inert otherwise."""

    def __init__(self, spark, on: bool, run_dir: str) -> None:
        from perfbench import trace

        self.on = on
        self.spark = spark
        self.spans: list[trace.OpSpan] = []
        self.storage: dict[str, tuple[int, float]] = {}
        self.files: dict[str, int] = {}
        self.phases: dict[str, dict[str, float]] = {}
        self.dirs = [os.path.join(run_dir, "warehouse"), os.path.join(run_dir, "tmp")]
        self.listener = None
        self._op = None
        if on:
            self.listener = trace.stream_listener()
            spark.streams.addListener(self.listener)

    def before_release(self) -> None:
        if self.on and self._op is not None:
            infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
            mb = sum(i.memSize() + i.diskSize() for i in infos) / MB
            self.storage[self._op] = (len(infos), mb)

    def run(self, op_id: str, kind: str, fn):
        from perfbench import trace

        if not self.on:
            return fn()
        self._op = op_id
        self.spark.sparkContext.setJobGroup(op_id, kind)
        files0 = _count_files(*self.dirs)
        t0 = time.time() * 1e3
        try:
            out = fn()
        finally:
            t1 = time.time() * 1e3
            self.spans.append(trace.OpSpan(op_id, t0, t1))
            self.files[op_id] = max(0, _count_files(*self.dirs) - files0)
            self._op = None
        if out.frame is not None:
            try:
                self.phases[op_id] = trace.catalyst_phases(out.frame)
            except Exception as exc:  # noqa: BLE001 — a missing tracker is not an op failure
                print(f"perfbench: no Catalyst phases for {kind}: {exc}", file=sys.stderr)
        return out


def _duck(corpus_dir: str):
    import duckdb

    from perfbench.corpus import table_sizes

    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in table_sizes(CORPUS_SF):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus_dir}/{t}.parquet'")
    return con


def _run(args, run_dir: str) -> int:
    from perfbench import corpus, stats, superstore, workloads
    from perfbench.procs import RssSampler, steal_s, stop_spark

    workload = workloads.WORKLOADS[args.workload]
    conf = _hygiene(run_dir)
    event_dir = os.path.join(run_dir, "eventlog")
    if args.trace:
        os.makedirs(event_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
            }
        )

    corpus_dir = os.path.join(run_dir, "corpus")
    corpus_bytes = corpus.write_corpus(corpus_dir, CORPUS_SEED, CORPUS_SF)
    batches = None
    if workloads.ETL in workload.setup:
        batches = superstore.iter_batches(os.path.join(run_dir, "batches"), args.seed, ETL_ROWS)
    duck = _duck(corpus_dir)

    from datafoundation_multi_source_retail_data_integration_hub_spark.session import get_spark

    warm: list = []
    settled: list = []
    timed: list = []
    errors: list[str] = []

    steal0, wall0 = steal_s(), time.perf_counter()
    with RssSampler() as rss:
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{workload.name}", extra_conf=conf)
        start_s = time.perf_counter() - t0
        try:
            java = spark.sparkContext._jvm.System.getProperty("java.version")
            tracer = _Tracer(spark, bool(args.trace), run_dir)
            runner = workloads.Runner(spark, corpus_dir, batches, duck, tracer.before_release)

            def attempt(kind: str, op_id: str):
                t = time.perf_counter()
                try:
                    runner.prepare(kind)
                    out = tracer.run(op_id, kind, lambda: runner.run(kind))
                except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
                    errors.append(f"{op_id} {kind}: {traceback.format_exc(limit=3)}")
                    return workloads.OpOutcome(kind, time.perf_counter() - t, False)
                try:
                    runner.check(out)
                except Exception:  # noqa: BLE001
                    errors.append(f"{op_id} {kind} check: {traceback.format_exc(limit=3)}")
                    out.ok = False
                return out

            # set-up: the workload's set-up ops (for ETL, the initial load),
            # then its settle ops; both count in setup_s
            for kind in workload.setup:
                warm.append(attempt(kind, f"w{len(warm)}"))
            for kind in workload.settle:
                settled.append(attempt(kind, f"s{len(settled)}"))
            warmup_s = sum(o.latency_s for o in warm + settled)

            # whole blocks, so every run times the same op mix
            for block in workloads.blocks(workload, args.seed):
                for kind in block:
                    timed.append(attempt(kind, f"t{len(timed)}"))
                if sum(o.latency_s for o in timed) >= args.seconds:
                    break
            time.sleep(0.5 if args.trace else 0)  # late streaming progress events
        finally:
            stop_spark(spark)
    wall_s = time.perf_counter() - wall0
    steal = steal_s() - steal0

    ops = warm + settled + timed
    errors += [f"{o.kind}: {o.detail}" for o in ops if o.detail]
    for e in errors:
        print(f"perfbench: failed op {e}", file=sys.stderr)
    attempted = len(ops)
    failed = sum(1 for o in ops if not o.ok)
    lat = [o.latency_s for o in timed]
    meta = {
        "workload": workload.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "usable_cpus": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "pyspark": __import__("pyspark").__version__,
        "java": java,
        "corpus_sf": CORPUS_SF,
        "corpus_bytes": corpus_bytes,
        "etl_batch_bytes": max((o.steps.get("source_bytes", 0) for o in warm), default=0),
        # time other guests of the host took from this machine's CPUs
        # while the engine ran: a run with much of it is a noisy reading
        "steal_s": round(steal, 2),
        "engine_wall_s": round(wall_s, 2),
        "timed_ops": len(lat),
        "tail_pct": workload.tail_pct,
        "tail_samples_beyond": stats.samples_beyond(len(lat), workload.tail_pct),
        "tail_rule_pct": stats.tail_percentile(len(lat)),
        "oracle_fallback": sorted(runner.fallback_used),
        "failed_ops": [o.kind for o in ops if not o.ok],
        "warmup_by_kind": [(o.kind, round(o.latency_s, 3)) for o in warm],
        "settle_by_kind": [(o.kind, round(o.latency_s, 3)) for o in settled],
        "latency_by_kind": {
            k: [round(o.latency_s, 3) for o in timed if o.kind == k]
            for k in dict.fromkeys(o.kind for o in timed)
        },
    }
    if args.trace:
        from perfbench.layers import per_layer

        metrics = per_layer(
            tracer, event_dir, workload, warm, timed, start_s, warmup_s, failed / attempted
        )
    else:
        metrics = {
            "setup_s": (start_s + warmup_s, "s"),
            "ops_per_s": (len(lat) / sum(lat), "1/s"),
            "op_p50_s": (stats.hd_percentile(lat, 50), "s"),
            "op_tail_s": (stats.hd_percentile(lat, workload.tail_pct), "s"),
            "ok_frac": (1 - failed / attempted, "ratio"),
            "rss_peak_mb": (rss.peak_mb, "MB"),
        }
    print(json.dumps({"meta": meta}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


def main(argv=None) -> int:
    args = _args(argv)
    root = os.getcwd()
    if not (
        os.path.isfile(os.path.join(root, PACKAGE, "__init__.py"))
        and os.path.isfile(os.path.join(root, "__spark_entry__.py"))
    ):
        print(
            "perfbench: the engine is not here; run from the repository root",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, root)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    base = os.path.join(root, ".perfbench_run")
    run_dir = os.path.join(base, str(os.getpid()))
    os.makedirs(run_dir)
    try:
        return _run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run's directory is still there


if __name__ == "__main__":
    sys.exit(main())
