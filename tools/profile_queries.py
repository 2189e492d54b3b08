"""Per-query profile: wall, job/stage/task counts and shuffle bytes.

Optimization-round instrumentation (guide §1): for every bench gate
query, run once warm, then measure a second run with the UI app-status
store enabled, attributing to the query exactly the jobs/stages it
registered (job-group id + settled stage-id diff, the sf1_sweep
attribution discipline).  The per-query scheduling floor at bench scale
is roughly proportional to the SEQUENTIAL job/stage chain, so the
table's job/stage counts are the shortlist for stage-collapse work;
shuffle bytes are the 100 TB lever.

Timing uses ``toPandas()`` (bench.py's action) so walls are comparable
to BENCH_r*.json rows.

Run: ``python tools/profile_queries.py [--queries a,b] [--sf DIR]``
Writes tools/profile_queries.json and prints a markdown table.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# a wedged UI endpoint must not hang the settle loops (ADVICE r14);
# a timeout surfaces as URLError and is treated like "still moving"
_UI_TIMEOUT_S = 10


def _stages(sc) -> list[dict]:
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/stages"
    return json.load(urllib.request.urlopen(url, timeout=_UI_TIMEOUT_S))


def _jobs(sc) -> list[dict]:
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/jobs"
    return json.load(urllib.request.urlopen(url, timeout=_UI_TIMEOUT_S))


def settled_stage_ids(sc) -> set[int]:
    prev = None
    for _ in range(20):
        cur = {s["stageId"] for s in _stages(sc)}
        if cur == prev:
            return cur
        prev = cur
        time.sleep(0.3)
    print("# WARN: stage ids still moving", file=sys.stderr)
    return prev or set()


def stages_since(sc, ids0: set[int]) -> list[dict]:
    prev = None
    for _ in range(20):
        data = [s for s in _stages(sc) if s["stageId"] not in ids0]
        key = sorted(
            (
                s["stageId"],
                s.get("shuffleWriteBytes", 0),
                s.get("shuffleReadBytes", 0),
                s.get("numCompleteTasks", 0),
            )
            for s in data
        )
        if key == prev:
            return data
        prev = key
        time.sleep(0.3)
    print("# WARN: stage metrics still moving", file=sys.stderr)
    return data


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--queries", default=None)
    ap.add_argument("--include-asymmetric", action="store_true")
    args = ap.parse_args()

    import bench
    import __spark_entry__ as entrymod
    from datafoundation_multi_source_retail_data_integration_hub_spark.operators.storage import unpersist_all
    from datafoundation_multi_source_retail_data_integration_hub_spark.session import (
        get_spark,
    )

    spark = get_spark(
        app_name="profile-queries", extra_conf={"spark.ui.enabled": "true"}
    )
    sc = spark.sparkContext
    qs = entrymod.queries()
    if args.queries:
        names = [n.strip() for n in args.queries.split(",") if n.strip()]
    else:
        names = [
            n
            for n in bench.HEADLINE
            if n in qs
            and (args.include_asymmetric or n not in bench.WORK_ASYMMETRIC)
        ]

    rows = []
    for name in names:
        # warm pass (same discipline as bench.py's min-of-2 first run)
        qs[name](spark, args.sf).toPandas()
        unpersist_all()
        ids0 = settled_stage_ids(sc)
        jobs0 = {j["jobId"] for j in _jobs(sc)}
        t0 = time.perf_counter()
        qs[name](spark, args.sf).toPandas()
        wall = time.perf_counter() - t0
        stages = stages_since(sc, ids0)
        jobs = [j for j in _jobs(sc) if j["jobId"] not in jobs0]
        unpersist_all()
        rows.append(
            {
                "query": name,
                "wall_s": round(wall, 3),
                "n_jobs": len(jobs),
                "n_stages": len(stages),
                # skipped stages register but run no tasks; count active
                "n_stages_run": sum(
                    1 for s in stages if s.get("numCompleteTasks", 0) > 0
                ),
                "n_tasks": sum(s.get("numCompleteTasks", 0) for s in stages),
                "shuffle_write_b": sum(
                    s.get("shuffleWriteBytes", 0) for s in stages
                ),
                "shuffle_read_b": sum(
                    s.get("shuffleReadBytes", 0) for s in stages
                ),
            }
        )
        print(
            f"# {name}: {wall:.2f}s jobs={rows[-1]['n_jobs']} "
            f"stages={rows[-1]['n_stages_run']}/{rows[-1]['n_stages']} "
            f"tasks={rows[-1]['n_tasks']}",
            file=sys.stderr,
        )

    rows.sort(key=lambda r: -r["wall_s"])
    out_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "profile_queries.json")
    with open(out_path, "w") as f:
        json.dump(rows, f, indent=1)
    print("| query | wall (s) | jobs | stages run/reg | tasks | shW (MB) | shR (MB) |")
    print("|---|---|---|---|---|---|---|")
    for r in rows:
        print(
            f"| {r['query']} | {r['wall_s']} | {r['n_jobs']} | "
            f"{r['n_stages_run']}/{r['n_stages']} | {r['n_tasks']} | "
            f"{r['shuffle_write_b'] / 1e6:.1f} | {r['shuffle_read_b'] / 1e6:.1f} |"
        )


if __name__ == "__main__":
    main()
