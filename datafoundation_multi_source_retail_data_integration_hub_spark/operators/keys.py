"""Deterministic, scale-safe global row numbering (surrogate keys — W5).

The reference assigns surrogate keys by sequential numbering over source
row order (``etl/load_to_query.py:111,126,143``). The naive Spark
translation — ``row_number()`` over an unpartitioned window — funnels the
whole table through ONE task: fine for a 1e4-row dim, a wall at 1e8+.

``with_global_row_number`` keeps identical semantics (1..n in global
``order_cols`` order, offset by a prior max) with a two-phase plan that
stays fully parallel:

1. range-partition + local sort on the order columns (one shuffle — the
   same shuffle a global sort would need anyway),
2. per-partition contiguous rank from ``monotonically_increasing_id``'s
   (partition id, local counter) encoding (a narrow projection — no
   window, no second exchange),
3. per-partition counts -> cumulative offsets (a tiny driver-side list,
   one row per partition), broadcast-joined back.

Determinism: range partitioning preserves global order across partition
ids, so offset + local rank == global rank whenever ``order_cols`` form a
unique ordering (callers must pass a unique column set — natural keys).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.local import local_frame

# Below this many (estimated) rows a single-partition window beats the
# distributed path's extra shuffle + count job; above it, funneling
# through one task becomes the bottleneck. Read at call time (tests may
# lower it to force the distributed path on small fixtures).
SMALL_DIM_THRESHOLD = 1_000_000

# Deliberately small bytes-per-row divisor for the size-based fallback:
# it must OVERESTIMATE the row count, so borderline inputs take the
# distributed path — which is correct at any size, just marginally
# slower on a genuinely small dim. The failure mode this gate must
# prevent is the opposite one (a huge dim silently serializing through
# one window task). 16 B/row absorbs parquet compression: measured on the
# test corpus, scan-based sizeInBytes/16 lands ~1.3x ABOVE the true row
# count where /64 sat 3x below it.
EST_ROW_BYTES = 16


def _estimated_rows(df: DataFrame) -> int:
    """Catalyst plan-statistics row estimate — driver-side only, NO job.

    An exact ``count()`` gate was measured to cost ~1s per SCD2 merge at
    sf0.1: the numbering input is a distinct over a source scan, so
    counting it re-runs the whole upstream shuffle. Plan stats are free
    and directionally safe (see ``EST_ROW_BYTES``).
    """
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    rc = stats.rowCount()
    if rc.isDefined():
        return int(str(rc.get()))
    return int(str(stats.sizeInBytes())) // EST_ROW_BYTES


def with_global_row_number(
    df: DataFrame,
    order_cols: list[str],
    col_name: str,
    offset: int = 0,
    num_partitions: int | None = None,
    force_distributed: bool = False,
    size_of: DataFrame | None = None,
) -> DataFrame:
    """Add ``col_name`` = offset + rank of the row in global ``order_cols``
    order (1-based). ``order_cols`` must uniquely order the rows.

    Path selection is automatic: a free Catalyst-statistics row estimate
    gates on ``SMALL_DIM_THRESHOLD`` so huge dims never silently serialize
    through one window task; callers that already know the input is big
    can skip the gate with ``force_distributed=True``. ``size_of`` names
    the frame whose estimate gates instead of ``df``'s, for inputs filtered
    from a larger plan whose statistics overstate them.
    """
    gated = df if size_of is None else size_of
    if not force_distributed and _estimated_rows(gated) <= SMALL_DIM_THRESHOLD:
        # Single-partition window: correct and cheapest at dim scale.
        w = Window.orderBy(*[F.col(c) for c in order_cols])
        return df.withColumn(
            col_name, (F.row_number().over(w) + F.lit(offset)).cast("bigint")
        )

    parts = num_partitions or df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    # Per-partition rank WITHOUT a window: a Window.partitionBy(__pid)
    # does not know __pid is aligned with the physical partitioning, so
    # EnsureRequirements would insert a SECOND full hash exchange (+ a
    # re-sort) — the very cost this operator exists to avoid. Instead,
    # monotonically_increasing_id over the range-partitioned, locally
    # sorted rows encodes (physical partition id << 33) + a contiguous
    # 0-based local counter assigned in row order; two bit ops recover
    # both, and the only exchange in the plan is the range partition
    # a global sort needs anyway.
    ranged = (
        df.repartitionByRange(int(parts), *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("__mid", F.monotonically_increasing_id())
    )
    # Persist before fanning out to two consumers: the range partitioner
    # samples its boundaries per materialization, so without pinning one
    # materialization the counts job and the final join would see
    # different partition sizes -> wrong offsets.
    from .storage import persist_tracked

    ranked = persist_tracked(
        ranged.withColumn("__pid", F.shiftright("__mid", 33).cast("int"))
        .withColumn(
            "__rn", F.col("__mid").bitwiseAND(F.lit((1 << 33) - 1)) + 1
        )
        .drop("__mid")
    )
    # one row per partition — tiny. __pid_ok rides the same job as a
    # map-side projection: it cross-checks the bit-derived partition id
    # against spark_partition_id() on the pinned materialization, so a
    # future change to monotonically_increasing_id's documented
    # "current implementation" bit layout fails loudly at runtime
    # instead of silently mis-numbering (the pinned plan test guards
    # the same invariant in CI; this guards production runs).
    counts = (
        ranked.withColumn(
            "__pid_ok", F.col("__pid") == F.spark_partition_id()
        )
        .groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("count"), F.min("__pid_ok").alias("ok"))
        .orderBy("__pid")
        .collect()
    )
    if not all(r["ok"] for r in counts):
        raise RuntimeError(
            "with_global_row_number: monotonically_increasing_id's "
            "partition-id bit layout no longer matches "
            "spark_partition_id() — the distributed numbering path "
            "cannot derive per-partition offsets on this Spark build"
        )
    cum = 0
    offsets = []
    for r in counts:
        offsets.append((r["__pid"], cum))
        cum += r["count"]
    off_df = local_frame(df.sparkSession, offsets, "p_pid int, p_off long")
    return (
        ranked.join(
            F.broadcast(off_df), F.col("__pid") == F.col("p_pid"), "inner"
        )
        .withColumn(
            col_name, (F.col("__rn") + F.col("p_off") + F.lit(offset)).cast("bigint")
        )
        .drop("__pid", "__rn", "p_pid", "p_off")
    )
