"""Join-chain SCD2 merge: the reference the one-exchange
``operators.scd2.scd2_merge`` is tested against.

It is the merge as two semi joins and four anti joins: incoming members
whose natural key has no current row are new; matched members that equal
no current variant (null-safe, whole tuple) are changed; the current
variants of changed keys that the batch does not re-assert expire; every
other existing row is carried by surrogate key. Inserts are numbered in
member order after the prior maximum surrogate key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datafoundation_multi_source_retail_data_integration_hub_spark.operators.keys import (
    with_global_row_number,
)
from datafoundation_multi_source_retail_data_integration_hub_spark.operators.scd2 import (
    SCD2Config,
    _with_flags,
)


def join_chain_merge(
    existing: DataFrame, incoming: DataFrame, cfg: SCD2Config, effective_date: str
) -> DataFrame:
    nk = cfg.natural_key
    inc = incoming.select(*cfg.member_cols).dropDuplicates()
    current = existing.filter(F.col(cfg.current_col) == 1)
    cur_members = current.select(*cfg.member_cols)
    cur_keys = current.select(nk).distinct()

    def tuple_eq(left: DataFrame, right: DataFrame) -> F.Column:
        cond = F.lit(True)
        for c in cfg.member_cols:
            cond = cond & left[c].eqNullSafe(right[c])
        return cond

    new_members = inc.join(cur_keys, nk, "left_anti")
    matched = inc.join(cur_keys, nk, "left_semi")
    changed_members = matched.join(
        cur_members, tuple_eq(matched, cur_members), "left_anti"
    )
    changed_keys = changed_members.select(nk).distinct()
    expired_base = current.join(changed_keys, nk, "left_semi")
    expired = (
        expired_base.join(inc, tuple_eq(expired_base, inc), "left_anti")
        .withColumn(cfg.expiry_col, F.lit(effective_date).cast("date"))
        .withColumn(cfg.current_col, F.lit(0))
    )
    expired_sks = expired.select(F.col(cfg.surrogate_key).alias("__esk"))
    carried = existing.join(
        expired_sks,
        existing[cfg.surrogate_key] == expired_sks["__esk"],
        "left_anti",
    )
    prior_max_df = existing.agg(
        F.coalesce(F.max(cfg.surrogate_key), F.lit(0))
        .cast("bigint")
        .alias("__prior_max")
    )
    inserts = new_members.unionByName(changed_members)
    keyed_inserts = (
        with_global_row_number(inserts, cfg.member_cols, cfg.surrogate_key)
        .crossJoin(F.broadcast(prior_max_df))
        .withColumn(
            cfg.surrogate_key,
            (F.col(cfg.surrogate_key) + F.col("__prior_max")).cast("bigint"),
        )
        .drop("__prior_max")
    )
    new_rows = _with_flags(keyed_inserts, cfg, effective_date)
    out_cols = [
        *cfg.member_cols,
        cfg.surrogate_key,
        cfg.effective_col,
        cfg.expiry_col,
        cfg.current_col,
    ]
    return (
        carried.select(*out_cols)
        .unionByName(expired.select(*out_cols))
        .unionByName(new_rows.select(*out_cols))
    )
