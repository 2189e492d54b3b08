"""A/B of two engine trees on the repo's benchmark, with a keep rule.

Each side is a git revision, extracted with ``git archive`` into a
temporary directory, or a directory that already holds a tree. Pair *i*
runs ``perfbench/run.py --seed SEED+i`` once in a fresh process on each
side; side A runs first in even pairs and side B in odd ones, so a drift
of the machine over the session lands on both sides alike.

Per end-to-end metric of ``BENCHMARK.json``, and per op kind (the run's
median latency of that kind in the timed window, and of its first calls
in set-up, where a session builds what its later calls reuse), it
reports each side's median and range, the pairs B won and lost (ties
count for neither), and the one-sided sign-test p that B wins at least
that often by chance. The keep rule keeps B on a metric when B's range
lies wholly on the better side of A's or p < 0.05. The claim rule is
stricter: at least 10 pairs, B better in at least 9 of every 10, and B's
median better than A's by more than A's interquartile range, which is
printed too. Both rules judge a metric named before the runs: across
the two dozen or so rows printed, one may read "keep" by chance. Each
run's line gives its blocks timed, since a run that times a second block
reads warmer ops. Every run lasts the benchmark's own ``run_seconds``.

Run from the repository root:

    python tools/ab.py --workload dashboard --pairs 7 --seed 501 HEAD~1 HEAD

Prints markdown on stdout: one line per run, then the comparison.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.workloads import WORKLOADS  # noqa: E402

P_KEEP = 0.05
CLAIM_PAIRS = 10
CLAIM_WON = 0.9


def sign_test_p(wins: int, losses: int) -> float:
    """One-sided sign test: the chance of at least ``wins`` wins in
    ``wins + losses`` fair coin flips."""
    n = wins + losses
    return sum(math.comb(n, k) for k in range(wins, n + 1)) / 2**n


def iqr(xs: list[float]) -> float:
    """Distance between the quartiles (linear interpolation)."""
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q3 - q1


def compare(a: list[float], b: list[float], higher_is_better: bool) -> dict:
    """Paired readings ``a[i]``, ``b[i]`` of one metric, and the keep and
    claim rules' verdicts on B."""
    sign = 1 if higher_is_better else -1
    wins = sum(1 for x, y in zip(a, b) if sign * (y - x) > 0)
    losses = sum(1 for x, y in zip(a, b) if sign * (y - x) < 0)
    p = sign_test_p(wins, losses)
    separate = (min(b) > max(a)) if higher_is_better else (max(b) < min(a))
    a_median, b_median, a_iqr = statistics.median(a), statistics.median(b), iqr(a)
    return {
        "a_median": a_median,
        "a_range": (min(a), max(a)),
        "a_iqr": a_iqr,
        "b_median": b_median,
        "b_range": (min(b), max(b)),
        "wins": wins,
        "losses": losses,
        "pairs": len(a),
        "p": p,
        "keep": separate or p < P_KEEP,
        "claim": len(a) >= CLAIM_PAIRS
        and wins >= CLAIM_WON * len(a)
        and sign * (b_median - a_median) > a_iqr,
    }


def tree_of(side: str, scratch: str) -> str:
    """A directory holding the side's tree: the directory itself, or the
    revision extracted with ``git archive``."""
    if os.path.isdir(side):
        return os.path.abspath(side)
    dest = tempfile.mkdtemp(prefix="ab-tree-", dir=scratch)
    archive = subprocess.run(
        ["git", "-C", ROOT, "archive", side], check=True, capture_output=True
    ).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)
    return dest


def run_once(tree: str, workload: str, seed: int, seconds: float) -> dict:
    """One fresh benchmark process in ``tree``: its metrics and meta line."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, capture_output=True, text=True, timeout=1800,
    )
    if proc.returncode != 0 or len(proc.stdout.strip().splitlines()) < 2:
        raise RuntimeError(f"perfbench failed in {tree} (seed {seed}):\n{proc.stderr[-3000:]}")
    return parse_run(proc.stdout)


def parse_run(stdout: str) -> dict:
    """A run's metrics and meta from its last two stdout lines: per op
    kind, the median latency of its timed calls (``kinds``) and of its
    set-up calls, which are each kind's first calls (``first``)."""
    lines = stdout.strip().splitlines()
    meta = json.loads(lines[-2])["meta"]
    result = json.loads(lines[-1])
    first: dict[str, list[float]] = {}
    for kind, latency in meta["warmup_by_kind"]:
        first.setdefault(kind, []).append(latency)
    return {
        "metrics": {k: v["value"] for k, v in result["metrics"].items()},
        "kinds": {k: statistics.median(v) for k, v in meta["latency_by_kind"].items()},
        "first": {k: statistics.median(v) for k, v in first.items()},
        "timed_ops": meta["timed_ops"],
        "steal_s": meta["steal_s"],
        "failed": result["failed"],
    }


def blocks_timed(workload: str, timed_ops: int) -> float:
    w = WORKLOADS[workload]
    return (timed_ops - len(w.once)) / len(w.block)


def benchmark() -> tuple[dict[str, bool], float]:
    """The benchmark's end-to-end metrics (is higher better?) and its run
    length in seconds."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["better"] == "higher" for m in spec["end_to_end"]}, spec["run_seconds"]


def report(runs: dict[str, list[dict]], metrics: dict[str, bool]) -> list[str]:
    """Markdown: every metric and op kind compared A → B."""
    lines = [
        "| metric | A median [range] | A IQR | B median [range] | B won | B lost | p | keep | claim |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    series = {
        name: (higher, [r["metrics"][name] for r in runs["A"]], [r["metrics"][name] for r in runs["B"]])
        for name, higher in metrics.items()
    }
    every = runs["A"] + runs["B"]
    for label, field in (("", "kinds"), (" first call", "first")):
        for k in [k for k in every[0][field] if all(k in r[field] for r in every)]:
            series[f"{k}{label} (s)"] = (
                False, [r[field][k] for r in runs["A"]], [r[field][k] for r in runs["B"]]
            )
    for name, (higher, a, b) in series.items():
        c = compare(a, b, higher)
        lines.append(
            f"| {name} | {c['a_median']:.4g} [{c['a_range'][0]:.4g}–{c['a_range'][1]:.4g}] "
            f"| {c['a_iqr']:.4g} "
            f"| {c['b_median']:.4g} [{c['b_range'][0]:.4g}–{c['b_range'][1]:.4g}] "
            f"| {c['wins']}/{c['pairs']} | {c['losses']}/{c['pairs']} | {c['p']:.3f} "
            f"| {'keep' if c['keep'] else 'no'} | {'claim' if c['claim'] else 'no'} |"
        )
    return lines


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("a", help="side A: a git revision or a tree directory")
    ap.add_argument("b", help="side B: a git revision or a tree directory")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--seed", type=int, required=True, help="pair i runs seed + i on both sides")
    args = ap.parse_args()
    if args.pairs < 5:
        ap.error("--pairs must be at least 5: fewer cannot reach p < 0.05")

    scratch = tempfile.mkdtemp(prefix="ab-")
    try:
        trees = {"A": tree_of(args.a, scratch), "B": tree_of(args.b, scratch)}
        runs: dict[str, list[dict]] = {"A": [], "B": []}
        metrics, seconds = benchmark()
        print(f"A = `{args.a}`, B = `{args.b}`; workload `{args.workload}`, "
              f"{args.pairs} pairs, seeds {args.seed}–{args.seed + args.pairs - 1}, "
              f"{seconds:g} s per run\n")
        print("| pair | seed | side | blocks | steal (s) | failed | "
              + " | ".join(metrics) + " |")
        print("|---" * (6 + len(metrics)) + "|")
        for i in range(args.pairs):
            seed = args.seed + i
            for side in ("AB" if i % 2 == 0 else "BA"):
                r = run_once(trees[side], args.workload, seed, seconds)
                runs[side].append(r)
                print(f"| {i + 1} | {seed} | {side} | {blocks_timed(args.workload, r['timed_ops']):g} "
                      f"| {r['steal_s']:.1f} | {r['failed']} | "
                      + " | ".join(f"{r['metrics'][m]:.4g}" for m in metrics) + " |",
                      flush=True)
        print()
        print("\n".join(report(runs, metrics)))
        print(f"\nkeep = B's range wholly better than A's, or one-sided sign-test p < {P_KEEP}. "
              f"claim = at least {CLAIM_PAIRS} pairs, B better in at least {CLAIM_WON:.0%} "
              "of them, and B's median better than A's by more than A's IQR.")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
