"""Set-based SCD Type 2 dimension merge.

Reproduces the reference's SCD2 semantics (``etl/load_to_query.py:96-151``)
as one Catalyst plan instead of a row-at-a-time ``iterrows`` loop:

- natural key = first configured column; compare-columns = the rest
  (``load_to_query.py:120,137``).
- Initial load: every distinct member gets surrogate keys 1..n,
  ``effective_date = load_date``, ``expiry_date = NULL``, ``is_current = 1``
  (``:109-115``).
- Incremental: unmatched natural key -> insert new member with next key
  (``:125-134``); matched + any compare-column differs -> expire current
  row (``expiry_date = load_date``, ``is_current = 0``) and insert a new
  version with the next key (``:136-151``); matched + unchanged -> no-op.

Deviation (documented, SURVEY §4.3): the reference numbers new keys in
source row order; we number in natural-key order (deterministic under
parallelism). Correctness checks are order-insensitive so this is safe.

Scale: a merge shuffles the existing dimension and the incoming batch
once, hash-partitioned on the natural key; change detection is window
maxima inside those partitions (null-safe: window partitions group
nulls), and only the inserts reach the global numbering. Everything is
JVM-side expressions; no Python hits the row path.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .keys import with_global_row_number


@dataclass(frozen=True)
class SCD2Config:
    """Column contract for one SCD2 dimension.

    ``natural_key``: business key (first configured column in the
    reference's dict). ``compare_cols``: attributes whose change spawns a
    new version. ``surrogate_key``: warehouse key column name.
    """

    natural_key: str
    compare_cols: tuple[str, ...]
    surrogate_key: str
    effective_col: str = "effective_date"
    expiry_col: str = "expiry_date"
    current_col: str = "is_current"

    @property
    def member_cols(self) -> list[str]:
        return [self.natural_key, *self.compare_cols]


def _members(src: DataFrame, cfg: SCD2Config) -> DataFrame:
    """Project + dedup the incoming batch to distinct dimension members
    (reference ``load_to_query.py:93``)."""
    return src.select(*cfg.member_cols).dropDuplicates()


def _with_flags(df: DataFrame, cfg: SCD2Config, effective_date: str) -> DataFrame:
    return df.withColumns(
        {
            cfg.effective_col: F.lit(effective_date).cast("date"),
            cfg.expiry_col: F.lit(None).cast("date"),
            cfg.current_col: F.lit(1),
        }
    )


def scd2_initial_load(
    src: DataFrame, cfg: SCD2Config, effective_date: str
) -> DataFrame:
    """First-ever load: number all distinct members 1..n in natural-key
    order (reference ``load_to_query.py:109-115``)."""
    members = _members(src, cfg)
    keyed = with_global_row_number(members, cfg.member_cols, cfg.surrogate_key)
    return _with_flags(keyed, cfg, effective_date).select(
        *cfg.member_cols,
        cfg.surrogate_key,
        cfg.effective_col,
        cfg.expiry_col,
        cfg.current_col,
    )


def scd2_merge(
    existing: DataFrame, incoming: DataFrame, cfg: SCD2Config, effective_date: str
) -> DataFrame:
    """Incremental merge of a new batch into an existing SCD2 dimension.

    Returns the complete new dimension table: untouched history + expired
    versions + surviving current rows + newly inserted versions. Surrogate
    keys of ``existing`` must be unique.

    One plan, one hash exchange of existing rows ∪ incoming members on the
    natural key. Window maxima inside it flag each row: a member tuple is
    *current* when an existing current row equals it, *asserted* when an
    incoming member does (null-safe: window partitions group nulls); a key
    is *changed* when it has a current row and an incoming member of it is
    not current. Current rows of changed keys the batch does not assert
    expire, other existing rows are carried, and incoming members whose
    tuple is not current are inserted, numbered after the prior maximum
    surrogate key. A null natural key never matches: its members are
    always inserted and its rows never expire. Matching is on the whole
    tuple because an initial load can hold several variants per key
    (Superstore does); key-only matching would re-insert present members
    on every re-merge.
    """
    nk, members = cfg.natural_key, cfg.member_cols
    version_cols = [cfg.surrogate_key, cfg.effective_col, cfg.expiry_col, cfg.current_col]
    out_cols = [*members, *version_cols]
    # an existing row is its member tuple plus its version record; every
    # branch below reads these two columns, so the exchange is reused
    version = F.col("__version")
    inc = version.isNull()
    rows = (
        existing.select(*members, F.struct(*version_cols).alias("__version"))
        .unionByName(incoming.select(*members), allowMissingColumns=True)
        .repartition(nk)
    )
    by_tuple, by_key = Window.partitionBy(*members), Window.partitionBy(nk)
    is_current = F.coalesce(version[cfg.current_col] == 1, F.lit(False))
    flagged = rows.select(
        "*",
        F.max(inc).over(by_tuple).alias("__asserted"),
        F.max(is_current).over(by_tuple).alias("__tuple_cur"),
    ).withColumn(
        "__key_changed",
        F.col(nk).isNotNull()
        & F.max(is_current).over(by_key)
        & F.max(inc & ~F.col("__tuple_cur")).over(by_key),
    )
    expire = is_current & F.col("__key_changed") & ~F.col("__asserted")
    kept = flagged.filter(~inc).select(
        *members,
        *(version[c].alias(c) for c in (cfg.surrogate_key, cfg.effective_col)),
        F.when(expire, F.lit(effective_date).cast("date"))
        .otherwise(version[cfg.expiry_col])
        .alias(cfg.expiry_col),
        F.when(expire, F.lit(0))
        .otherwise(version[cfg.current_col])
        .alias(cfg.current_col),
    )
    inserts = (
        flagged.filter(inc & (F.col(nk).isNull() | ~F.col("__tuple_cur")))
        .select(*members)
        .dropDuplicates()
    )
    # prior max surrogate as a lazy 1-row aggregate broadcast onto the
    # numbered inserts; the numbering path is chosen by the size of the
    # incoming members, not of the union the inserts are filtered from
    prior_max = existing.agg(
        F.coalesce(F.max(cfg.surrogate_key), F.lit(0)).cast("bigint").alias("__prior_max")
    )
    keyed = (
        with_global_row_number(
            inserts, members, cfg.surrogate_key, size_of=_members(incoming, cfg)
        )
        .crossJoin(F.broadcast(prior_max))
        .withColumn(
            cfg.surrogate_key,
            (F.col(cfg.surrogate_key) + F.col("__prior_max")).cast("bigint"),
        )
    )
    return kept.unionByName(_with_flags(keyed, cfg, effective_date).select(*out_cols))


def current_key_map(dim: DataFrame, cfg: SCD2Config) -> DataFrame:
    """natural key -> surrogate key map over current rows (reference
    ``load_to_query.py:173-176``) — the broadcast build side for fact FK
    resolution."""
    return dim.filter(F.col(cfg.current_col) == 1).select(
        cfg.natural_key, cfg.surrogate_key
    )


def add_row_hash(df: DataFrame, cols: list[str], out: str = "row_hash") -> DataFrame:
    """md5 change-detection hash over ``cols`` (reference ``README.md:300-311``).

    NULLs are mapped to a sentinel before concat so NULL and empty string
    hash differently (``concat_ws`` silently drops NULLs otherwise).
    """
    parts = [F.coalesce(F.col(c).cast("string"), F.lit("\x00null")) for c in cols]
    return df.withColumn(out, F.md5(F.concat_ws("|", *parts)))
