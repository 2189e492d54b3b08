"""Per-query JOB TIMELINE: every Spark job's submission/completion time,
description, and the driver-side GAP before it — the decomposition
instrument for the work-asymmetric pipelines.

A pipeline's wall is `sum(job walls) + sum(gaps)`; jobs whose intervals
OVERLAP are already concurrent. The table makes three costs visible:

- sequential jobs that do not depend on each other (candidates for
  ``functions.concurrent.overlap``);
- driver-side gaps (planning, commit/rename machinery, catalog calls,
  stream-start overhead) that no executor-side change can touch;
- the per-job scheduling floor (many tiny jobs -> chain the floor).

Run:  python tools/job_timeline.py --query scd2_partition_merge [--sf DIR]
Prints one markdown table per query (relative times, seconds).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.error
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_TIMEOUT = 10  # a wedged UI endpoint must not hang the settle loops


def _jobs(sc) -> list[dict]:
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/jobs"
    return json.load(urllib.request.urlopen(url, timeout=_TIMEOUT))


def _parse_ts(s: str) -> float:
    # REST dates look like 2026-01-01T00:00:00.000GMT
    from datetime import datetime, timezone

    return (
        datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def settled_jobs(sc) -> list[dict]:
    """The job list once two polls agree. A failed or timed-out poll
    counts as "still moving"."""
    prev = cur = None
    for _ in range(40):
        try:
            got = _jobs(sc)
        except (urllib.error.URLError, TimeoutError):
            prev = None
        else:
            cur = got
            key = sorted(
                (j["jobId"], j.get("status"), j.get("numCompletedTasks", 0))
                for j in cur
            )
            if key == prev:
                return cur
            prev = key
        time.sleep(0.25)
    if cur is None:
        raise RuntimeError("job_timeline: the UI jobs endpoint never answered")
    print("# WARN: job list still moving", file=sys.stderr)
    return cur


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--query", required=True, help="comma-separated query names")
    ap.add_argument("--runs", type=int, default=1, help="timed reps after the warm pass")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from datafoundation_multi_source_retail_data_integration_hub_spark.operators.storage import unpersist_all
    from datafoundation_multi_source_retail_data_integration_hub_spark.session import (
        get_spark,
    )

    spark = get_spark(
        app_name="job-timeline", extra_conf={"spark.ui.enabled": "true"}
    )
    sc = spark.sparkContext
    qs = entrymod.queries()

    for name in [n.strip() for n in args.query.split(",") if n.strip()]:
        fn = qs[name]
        fn(spark, args.sf).toPandas()  # warm (JIT/codegen), same as bench
        unpersist_all()
        for _ in range(args.runs):
            ids0 = {j["jobId"] for j in settled_jobs(sc)}
            t0 = time.perf_counter()
            fn(spark, args.sf).toPandas()
            wall = time.perf_counter() - t0
            jobs = [j for j in settled_jobs(sc) if j["jobId"] not in ids0]
            unpersist_all()
            jobs.sort(key=lambda j: j["jobId"])
            if not jobs:
                print(f"## {name}: wall {wall:.2f}s, no jobs registered")
                continue
            t_base = min(_parse_ts(j["submissionTime"]) for j in jobs)
            rows = []
            for j in jobs:
                sub = _parse_ts(j["submissionTime"]) - t_base
                end = (
                    _parse_ts(j["completionTime"]) - t_base
                    if j.get("completionTime")
                    else float("nan")
                )
                rows.append((j["jobId"], sub, end, j.get("numTasks", 0),
                             (j.get("description") or j.get("name") or "")[:90]))
            # driver-side gap before each job = its submission minus the
            # latest completion among EARLIER jobs (0 for overlapped jobs);
            # jobs without a completionTime (NaN end) are left out of both
            ends = [r[2] for r in rows if r[2] == r[2]]
            span = f"{max(ends):.2f}s" if ends else "n/a"
            print(f"\n## {name}: wall {wall:.2f}s, {len(rows)} jobs, "
                  f"job-span {span}")
            print("| job | start | end | dur | gap | tasks | description |")
            print("|---|---|---|---|---|---|---|")
            prev_end = 0.0
            for jid, sub, end, ntasks, desc in rows:
                gap = max(0.0, sub - prev_end)
                print(
                    f"| {jid} | {sub:.2f} | {end:.2f} | {end - sub:.2f} | "
                    f"{gap:.2f} | {ntasks} | {desc} |"
                )
                if end == end:
                    prev_end = max(prev_end, end)


if __name__ == "__main__":
    main()
