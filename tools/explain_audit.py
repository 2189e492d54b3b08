"""Physical-plan audit: verify the scale claims in ARCHITECTURE.md.

For each headline query, renders the formatted physical plan and checks
the properties that matter at 100 TB:

- parquet scans carry PushedFilters / a pruned ReadSchema,
- dimension joins are BroadcastHashJoin (no fact-side shuffle),
- whole-stage codegen covers the hot expressions.

Run: ``python tools/explain_audit.py [sf_dir]`` — writes PLANS.md: one
pass/fail line per check per query, plus the plan of each failing query.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

AUDITED = {
    "flagship_star_revenue": {
        "expect": ["BroadcastHashJoin", "PushedFilters", "codegen id"],
        "forbid_pattern": None,
    },
    "pricing_summary": {
        # forbid decimal(27,6): the per-row decimal-cast accumulation is
        # the slow path this query's sums left behind (functions/parity
        # fixed_sum limbs) — a regression to it would show as
        # sum(cast(x as decimal(27,6))) in the aggregate expressions
        "expect": ["PushedFilters", "HashAggregate", "codegen id"],
        "forbid_pattern": r"decimal\(27,6\)",
    },
    "fact_sales_resolution": {
        "expect": ["BroadcastHashJoin"],
        "forbid_pattern": None,
    },
    "top_customers": {
        "expect": ["TakeOrderedAndProject"],
        "forbid_pattern": r"(?<!TakeOrdered)Sort\b.*global=true",  # no global sort
    },
    "doc_minhash_lsh_pairs": {
        "expect": ["HashAggregate"],
        "forbid_pattern": r"CartesianProduct|BroadcastNestedLoopJoin",
    },
    "doc_ngram_jaccard_pairs": {
        # postings-count inverted index (low-τ regime, r13): equi-joins
        # only, never all-pairs; pair overlap via partial-aggregated count
        "expect": ["HashAggregate"],
        "forbid_pattern": r"CartesianProduct|BroadcastNestedLoopJoin",
    },
    "embedding_topk_bruteforce": {
        "expect": ["BroadcastNestedLoopJoin"],  # the intended broadcast cross
        "forbid_pattern": r"CartesianProduct",
    },
    "events_sessionization": {
        "expect": ["Window"],
        "forbid_pattern": r"CartesianProduct",
    },
    "doc_winnowing_pairs": {
        # inverted-index equi-join on the fingerprint; hot-set anti-join
        "expect": ["HashAggregate"],
        "forbid_pattern": r"CartesianProduct|BroadcastNestedLoopJoin",
    },
    "doc_incremental_dedup": {
        # fingerprint probe join + within-batch window; no all-pairs
        "expect": ["Window"],
        "forbid_pattern": r"CartesianProduct|BroadcastNestedLoopJoin",
    },
    "embedding_semantic_dedup": {
        # within-cluster self-join reads the persisted assignment
        "expect": ["InMemoryTableScan"],
        "forbid_pattern": r"CartesianProduct|BroadcastNestedLoopJoin",
    },
    "embedding_kmeans": {
        # assignment is a map-side expression (centroids are a literal):
        # the census is one partial-aggregated groupBy — no join at all
        "expect": ["HashAggregate"],
        "forbid_pattern": r"CartesianProduct|BroadcastNestedLoopJoin|SortMergeJoin",
    },
    "doc_contamination": {
        # eval side broadcasts; candidate generation is a shingle equi-join
        "expect": ["BroadcastHashJoin", "HashAggregate"],
        "forbid_pattern": r"CartesianProduct|BroadcastNestedLoopJoin",
    },
    "mart_sales_performance": {
        # fact-side work is scan -> broadcast FK joins -> partial agg
        "expect": ["BroadcastHashJoin", "HashAggregate"],
        "forbid_pattern": r"CartesianProduct|BroadcastNestedLoopJoin",
    },
    "mart_category_analysis": {
        "expect": ["BroadcastHashJoin", "HashAggregate"],
        "forbid_pattern": r"CartesianProduct|BroadcastNestedLoopJoin",
    },
    "embedding_ann_pq": {
        # encode is map-side (codebook literals); ADC join broadcasts the
        # tiny query side (BNLJ on the != predicate is the intended plan)
        "expect": ["BroadcastNestedLoopJoin", "Window"],
        "forbid_pattern": r"CartesianProduct",
    },
    "doc_hybrid_search_rrf": {
        # lexical candidates ride an equi-join against broadcast query
        # tokens; fusion is a bounded full-outer join
        "expect": ["BroadcastHashJoin", "Window"],
        "forbid_pattern": r"CartesianProduct",
    },
    "events_rolling_anomaly": {
        # one partial-agg'd hash aggregation to 10-min windows, then a
        # single ROWS-frame window pass partitioned by event_type
        "expect": ["HashAggregate", "Window"],
        "forbid_pattern": r"CartesianProduct|BroadcastNestedLoopJoin",
    },
    "salted_hot_key_join": {
        # the (key, salt) equi-join must stay a hash join — salting is
        # pointless if the planner degrades to nested-loop; the hot-key
        # top-N must not trigger a global sort
        "expect": ["HashAggregate"],
        "forbid_pattern": r"CartesianProduct|BroadcastNestedLoopJoin",
    },
    "dashboard_extract": {
        # no hard hints on the customer/part dims (scale-variable); at
        # test scale AQE still picks broadcast-hash on its own
        "expect": ["BroadcastHashJoin"],
        "forbid_pattern": r"CartesianProduct|BroadcastNestedLoopJoin",
    },
    "orders_approx_distinct_sketch": {
        # dedup-then-aggregate: mixing the distinct agg with the HLL
        # would Expand every row and carry a partial register array per
        # distinct key (the plan shape this query exists to avoid)
        "expect": ["HashAggregate"],
        "forbid_pattern": r"\bExpand\b",
    },
    "events_sketch_rollup": {
        # same contract: deduped-user branch + raw-value branch joined,
        # never one Expand-mixed aggregation; sketches ride
        # ObjectHashAggregate
        "expect": ["ObjectHashAggregate"],
        "forbid_pattern": r"\bExpand\b",
    },
    "lineitem_quantile_sketch": {
        # one sorted-array exact buffer (collect_list) + one GK sketch
        # per group (array ranks) — both TypedImperativeAggregates, so
        # ObjectHashAggregate; no distinct agg anywhere, so no Expand
        "expect": ["ObjectHashAggregate"],
        "forbid_pattern": r"\bExpand\b",
    },
    "events_user_overlap_theta": {
        # two conditional theta sketches in ONE pass over events (the
        # 1-row est x exact crossJoin is an intended BNLJ); the exact
        # twin is a two-level plain aggregation
        "expect": ["ObjectHashAggregate"],
        "forbid_pattern": r"\bExpand\b|CartesianProduct",
    },
    "events_heavy_hitters": {
        # frequent-items sketch rides ObjectHashAggregate (one pass,
        # bounded state); the exact window twin joins it — plain
        # equi-join, never a cross product
        "expect": ["ObjectHashAggregate", "Window"],
        "forbid_pattern": r"\bExpand\b|CartesianProduct",
    },
    "events_cdc_compaction": {
        # the whole point: compaction is ONE aggregation whose max_by
        # partial-aggregates map-side; a regression to the window-sort
        # form would shuffle the full log history per key
        "expect": ["partial_max_by"],
        "forbid_pattern": r"\bWindow\b|CartesianProduct",
    },
    "events_mad_outliers": {
        # one sorted-array buffer per group (TypedImperativeAggregate ->
        # ObjectHashAggregate); median/MAD/outlier-count are array ops
        # over it — no second scan, no join
        "expect": ["ObjectHashAggregate"],
        "forbid_pattern": r"CartesianProduct|BroadcastNestedLoopJoin",
    },
    "supplier_pareto": {
        # map-side-partial groupBy to supplier grain, then ONE window
        # over the dimension-sized aggregate — the window must sit above
        # the HashAggregate, never over the fact
        "expect": ["HashAggregate", "Window"],
        "forbid_pattern": r"CartesianProduct|BroadcastNestedLoopJoin",
    },
    "doc_edit_distance_pairs": {
        # prefix-block equi-join only; the quadratic is bounded by the
        # block-size cap, never expressed as a cross product
        "expect": ["HashAggregate"],
        "forbid_pattern": r"CartesianProduct|BroadcastNestedLoopJoin",
    },
    "doc_mixture_allocation": {
        # one rank window per source partition over (hash, id); no joins
        "expect": ["Window"],
        "forbid_pattern": r"CartesianProduct|BroadcastNestedLoopJoin",
    },
    "orders_price_drift_screen": {
        # one pass histograms both batches (map-side partial counts);
        # the totals join is an intended 1-row broadcast
        "expect": ["HashAggregate"],
        "forbid_pattern": r"CartesianProduct",
    },
    "events_rolling_distinct_users": {
        # day-grain HLL sketches (ObjectHashAggregate) + RANGE-framed
        # window merge; the exact twin's calendar range join broadcasts
        # the day list (BNLJ intended — non-equi condition)
        "expect": ["ObjectHashAggregate", "Window"],
        "forbid_pattern": r"CartesianProduct",
    },
    "doc_dedup_decisions": {
        # cluster labels + quality join on doc_id; keeper via max_by to
        # the cluster grain (struct-ordered max_by buffers are sort-based
        # aggregates) — all equi-joins
        "expect": ["SortAggregate", "BroadcastHashJoin"],
        "forbid_pattern": r"CartesianProduct|BroadcastNestedLoopJoin",
    },
    "doc_substring_dup_spans": {
        # duplicate test = partial-agg'd groupBy(hv).count semi-joined
        # back to the persisted postings (skew posture: a count-over-
        # window would pin a hot gram to one unsplittable task);
        # islands merge = Window over doc_id on the duplicated subset
        "expect": ["HashAggregate", "Window", "InMemoryTableScan"],
        "forbid_pattern": r"CartesianProduct|BatchEvalPython",
    },
    "doc_classifier_quality_score": {
        # pure-expression map: scan -> project, codegen'd end-to-end;
        # no exchange, no aggregate, no Python
        "expect": ["codegen id"],
        "forbid_pattern": r"\bExchange\b|HashAggregate|BatchEvalPython",
    },
    "doc_unicode_clean": {
        # exactly ONE Arrow-batched Python stage (the NFC hop); the
        # regex strip/collapse must stay in codegen around it
        "expect": ["ArrowEvalPython", "codegen id"],
        "forbid_pattern": r"BatchEvalPython|\bExchange\b",
    },
    "orders_join_cardinality": {
        # both branches: map-side partial counts (HashAggregate pairs);
        # sampled branch filters at the scan; final assembly is an
        # intended 1-row broadcast cross
        "expect": ["HashAggregate", "Filter"],
        "forbid_pattern": r"CartesianProduct",
    },
    "customer_k_anonymity": {
        # two map-side-combining aggregations, nothing else
        "expect": ["HashAggregate"],
        "forbid_pattern": r"\bJoin\b|\bWindow\b|CartesianProduct",
    },
    "doc_substring_dedup_trim": {
        # first-occurrence + count come from ONE partial-agg'd
        # groupBy(hv) joined to the persisted postings (skew posture,
        # see doc_substring_dup_spans); islands merge = Window over doc
        # id; span arrays join back at doc grain; token removal must be
        # the higher-order filter — never an exploded token anti-join
        "expect": ["Window", "HashAggregate", "InMemoryTableScan"],
        "forbid_pattern": r"CartesianProduct|BatchEvalPython",
    },
    "doc_language_balanced_sample": {
        # per-language rank window + broadcast quota join; the global
        # quota windows run over the |languages|-row aggregate only
        "expect": ["Window", "BroadcastHashJoin"],
        "forbid_pattern": r"CartesianProduct|BroadcastNestedLoopJoin",
    },
    "scan_partition_planner": {
        # two single-table aggregations unioned; pure codegen arithmetic
        "expect": ["HashAggregate", "Union"],
        "forbid_pattern": r"\bJoin\b|\bWindow\b|CartesianProduct",
    },
    "events_ewma_anomaly": {
        # one agg to bucket grain, ONE window spec shared by all 16 lag
        # expressions; events never enter the window
        "expect": ["HashAggregate", "Window"],
        "forbid_pattern": r"CartesianProduct|BroadcastNestedLoopJoin",
    },
    "lineitem_equidepth_histogram": {
        # r08 rewrite: the 7 edges are computed by a separate
        # order-statistics job (operators/quantiles) and land as LITERALS
        # in the bucket expression — no edge join exists in this plan at
        # all (the r07 form broadcast a 1-row edge array via BNLJ and
        # reduced the column into an ObjectHashAggregate sorted_vals
        # buffer). Bucket counting is dedup-then-aggregate — a mixed
        # distinct agg would Expand every row
        "expect": ["HashAggregate"],
        "forbid_pattern": (
            r"\bExpand\b|CartesianProduct|BroadcastNestedLoopJoin"
            r"|ObjectHashAggregate"
        ),
    },
    "dim_snapshot_diff": {
        # one co-shuffled full outer join at dimension grain
        "expect": ["SortMergeJoin"],
        "forbid_pattern": r"CartesianProduct|BroadcastNestedLoopJoin",
    },
    "doc_substring_dedup_ingest": {
        # fused one-scan form (r12): the store half and the batch half
        # share ONE parquet scan + tokenize/hash pass into the hv
        # shuffle — a regression to the two-frame split shows as a
        # second distinct scan node; islands at doc grain; never a
        # cross product, never a Python stage
        "expect": ["Window", "HashAggregate"],
        "forbid_pattern": r"CartesianProduct|BatchEvalPython|ArrowEvalPython",
        "max_count": {r"^\(\d+\) Scan parquet": 1},
    },
    "doc_segment_dedup": {
        # r09 rewrite: the keep-first exchange is keyed by the 8-byte
        # xxhash64 (hv), NEVER the raw segment string — a regression
        # shows as hashpartitioning(seg#...)
        "expect": ["Window", "hashpartitioning(hv#"],
        "forbid_pattern": r"hashpartitioning\(seg#|CartesianProduct",
    },
    "doc_unigram_familiarity": {
        # r09 rewrite: the token-stream join against the UNBOUNDED
        # unigram count table must stay a shuffled hash join (only the
        # FAM_VOCAB_K top-k broadcasts); losing the SHJ means the count
        # table got broadcast again
        "expect": ["ShuffledHashJoin", "HashAggregate"],
        "forbid_pattern": r"CartesianProduct|SortMergeJoin",
    },
    "doc_pii_scrub": {
        # one codegen'd projection (concat + regexp_count/replace):
        # no exchange, no aggregate, no Python stage
        "expect": ["codegen id"],
        "forbid_pattern": (
            r"\bExchange\b|HashAggregate|BatchEvalPython|ArrowEvalPython"
        ),
    },
    "doc_binary_stats": {
        # binary md5/length are JVM builtins: pure codegen projection,
        # no Python stage despite the "multimodal" surface
        "expect": ["codegen id"],
        "forbid_pattern": (
            r"\bExchange\b|HashAggregate|BatchEvalPython"
            r"|ArrowEvalPython|MapInPandas"
        ),
    },
    "doc_av_meta": {
        # container header walk is the one genuinely-Python step:
        # exactly one Arrow-batched MapInPandas stage, zero exchanges —
        # the stage parallelizes with the scan at any corpus size
        "expect": ["MapInPandas"],
        "forbid_pattern": r"\bExchange\b|HashAggregate|BatchEvalPython",
    },
    "doc_media_resized": {
        # decode/resize/re-encode rides one MapInPandas stage over the
        # scan partitioning — no shuffle before or after
        "expect": ["MapInPandas"],
        "forbid_pattern": r"\bExchange\b|HashAggregate|BatchEvalPython",
    },
    "embedding_quantize_int8": {
        # per-dim stats are constant-size driver literals; the corpus
        # pass is a map-side codegen projection — no exchange, no Python
        "expect": ["codegen id"],
        "forbid_pattern": (
            r"\bExchange\b|HashAggregate|BatchEvalPython"
            r"|ArrowEvalPython|MapInPandas"
        ),
    },
}


def audit(plan: str, checks: dict) -> list[tuple[bool, str]]:
    """(passed, description) per check of one query's plan."""
    out = [(token in plan, f"expect `{token}`") for token in checks["expect"]]
    fp = checks["forbid_pattern"]
    if fp:
        hit = re.search(fp, plan)
        found = f" (found `{hit.group(0)}`)" if hit else ""
        out.append((hit is None, f"forbid `/{fp}/`{found}"))
    for pat, cap in checks.get("max_count", {}).items():
        # count DISTINCT plan nodes (multiline detail-section entries),
        # not tree references — stage reuse legitimately renders one
        # node at several tree positions
        got = len(re.findall(pat, plan, re.M))
        out.append((got <= cap, f"max_count `/{pat}/` <= {cap} (got {got})"))
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from datafoundation_multi_source_retail_data_integration_hub_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark(app_name="explain_audit")
    qs = entrymod.queries()

    lines, failed_plans = [], []
    for name, checks in AUDITED.items():
        df = qs[name](spark, sf_dir)
        df.collect()  # finalize the AQE plan so explain shows real stages
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        results = audit(plan, checks)
        lines += [f"- {'PASS' if ok else 'FAIL'} `{name}`: {desc}" for ok, desc in results]
        if not all(ok for ok, _ in results):
            failed_plans.append(f"## {name}\n\n```\n{plan.strip()}\n```\n")

    out = (
        "# PLANS — physical-plan audit (generated by tools/explain_audit.py)\n\n"
        f"sf_dir: `{sf_dir}`. One line per check per query; the formatted "
        "physical plan is kept only for a query with a failed check.\n\n"
        + "\n".join(lines)
        + "\n\n"
        + ("\n".join(failed_plans) if failed_plans else "No check failed.\n")
    )
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write(out)
    failures = [line for line in lines if line.startswith("- FAIL")]
    print("\n".join(failures) or "ALL PLAN CHECKS PASS")


if __name__ == "__main__":
    main()
