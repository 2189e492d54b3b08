"""Warehouse-build queries: calendar dim, SCD2 dims, fact FK resolution.

These exercise the dimensional-modeling library (``plans.star_schema``,
``operators.scd2``, ``functions.dates``) end-to-end against the corpus and
give the driver oracle-checkable results for the reference's core ETL
semantics (``etl/load_to_query.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.concurrent import overlap
from ..functions.dates import build_calendar, date_key
from ..functions.local import local_frame
from ..functions.parity import fixed_sum, round_dp, sql_round_dp, sql_stable_sum
from ..operators import storage
from ..operators.scd2 import SCD2Config, current_key_map, scd2_initial_load, scd2_merge
from ..pipelines import retail
from ..plans.star_schema import StarSchema
from ..sources.tables import load_tables

# Deterministic load dates (the reference uses datetime.today(); tests pin
# a fixed date for reproducibility — SURVEY §2.8 F7).
D0 = "2026-01-01"
D1 = "2026-02-01"

CUSTOMER_CFG = SCD2Config(
    natural_key="c_custkey",
    compare_cols=("c_name", "c_mktsegment", "c_acctbal"),
    surrogate_key="customer_key",
)
PART_CFG = SCD2Config(
    natural_key="p_partkey",
    compare_cols=("p_name", "p_brand", "p_type"),
    surrogate_key="part_key",
)


def _initial_dim(
    spark: SparkSession, sf_dir: str, table: str, cfg: SCD2Config, date: str
) -> DataFrame:
    """The initial-load SCD2 dim, built once per session and
    localCheckpointed: a ``SESSION`` entry that holds data blocks, shared
    by every fact build, mart and extract. A hit is bit-identical because
    ``scd2_initial_load`` is deterministic."""

    def build() -> DataFrame:
        src = load_tables(spark, sf_dir, table)[table]
        return scd2_initial_load(src, cfg, date).localCheckpoint(eager=True)

    key = ("dim", sf_dir, table, cfg.natural_key, date)
    return storage.memo(spark, storage.SESSION, key, build)


# ---------------------------------------------------------------------------
# dim_date: continuous calendar spanning orders (F5/F6/F8)
# ---------------------------------------------------------------------------


def dim_date_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    return build_calendar(orders, "o_orderdate")


DIM_DATE_ORACLE = """
WITH b AS (
  SELECT CAST(min(o_orderdate) AS DATE) AS lo, CAST(max(o_orderdate) AS DATE) AS hi
  FROM orders
),
d AS (
  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS date FROM b
)
SELECT date,
       CAST(strftime(date, '%Y%m%d') AS INTEGER) AS date_key,
       CAST(year(date) AS INTEGER) AS year,
       CAST(quarter(date) AS INTEGER) AS quarter,
       CAST(month(date) AS INTEGER) AS month,
       CAST(day(date) AS INTEGER) AS day,
       CAST(isodow(date) - 1 AS INTEGER) AS weekday,
       CAST(CASE WHEN isodow(date) >= 6 THEN 1 ELSE 0 END AS INTEGER) AS is_weekend,
       CAST(year(date) + CASE WHEN month(date) >= 7 THEN 1 ELSE 0 END AS INTEGER)
         AS fiscal_year
FROM d
"""


# ---------------------------------------------------------------------------
# SCD2 initial load on dim_customer (§4.3 initial path)
# ---------------------------------------------------------------------------


def dim_customer_scd2_init(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _initial_dim(spark, sf_dir, "customer", CUSTOMER_CFG, D0)


DIM_CUSTOMER_INIT_ORACLE = f"""
SELECT c_custkey, c_name, c_mktsegment, c_acctbal,
       row_number() OVER (ORDER BY c_custkey, c_name, c_mktsegment, c_acctbal)
         AS customer_key,
       DATE '{D0}' AS effective_date,
       CAST(NULL AS DATE) AS expiry_date,
       1 AS is_current
FROM (SELECT DISTINCT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer)
"""


# ---------------------------------------------------------------------------
# SCD2 two-batch merge (§4.3 full path: new member / changed / unchanged)
# ---------------------------------------------------------------------------


def _customer_batch2(cust: DataFrame) -> DataFrame:
    """Deterministic second batch derived from the corpus:
    - every 10th customer changes balance (changed path),
    - every 17th key reappears as a brand-new member (new path),
    - everyone else is untouched (no-op path)."""
    changed_or_same = cust.select(
        "c_custkey",
        "c_name",
        "c_mktsegment",
        F.when(F.col("c_custkey") % 10 == 0, F.col("c_acctbal") + 1000)
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
    )
    new_members = cust.filter(F.col("c_custkey") % 17 == 0).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.concat(F.col("c_name"), F.lit("_new")).alias("c_name"),
        "c_mktsegment",
        F.lit(0.0).alias("c_acctbal"),
    )
    return changed_or_same.unionByName(new_members)


def scd2_customer_two_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_tables(spark, sf_dir, "customer")["customer"]
    dim = _initial_dim(spark, sf_dir, "customer", CUSTOMER_CFG, D0)
    return scd2_merge(dim, _customer_batch2(cust), CUSTOMER_CFG, D1)


# The D0-init + D1-merge CTE chain shared VERBATIM by the two-batch and
# partition-merge oracles (both describe the same merge; one copy each
# would let them silently assert different merges)
_SQL_SCD2_D1_CTES = """init AS (
  SELECT c_custkey, c_name, c_mktsegment, c_acctbal,
         row_number() OVER (ORDER BY c_custkey, c_name, c_mktsegment, c_acctbal)
           AS customer_key
  FROM (SELECT DISTINCT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer)
),
batch2 AS (
  SELECT c_custkey, c_name, c_mktsegment,
         CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 1000 ELSE c_acctbal END
           AS c_acctbal
  FROM customer
  UNION ALL
  SELECT c_custkey + 1000000, c_name || '_new', c_mktsegment, 0.0
  FROM customer WHERE c_custkey % 17 = 0
),
changed AS (
  SELECT b.* FROM batch2 b JOIN init i USING (c_custkey)
  WHERE b.c_name IS DISTINCT FROM i.c_name
     OR b.c_mktsegment IS DISTINCT FROM i.c_mktsegment
     OR b.c_acctbal IS DISTINCT FROM i.c_acctbal
),
new_members AS (
  SELECT b.* FROM batch2 b LEFT JOIN init i USING (c_custkey)
  WHERE i.c_custkey IS NULL
),
inserts AS (SELECT * FROM changed UNION ALL SELECT * FROM new_members),
new_rows AS (
  SELECT c_custkey, c_name, c_mktsegment, c_acctbal,
         (SELECT max(customer_key) FROM init)
           + row_number() OVER (ORDER BY c_custkey, c_name, c_mktsegment, c_acctbal)
           AS customer_key
  FROM inserts
)"""

SCD2_TWO_BATCH_ORACLE = f"""
WITH {_SQL_SCD2_D1_CTES}
SELECT c_custkey, c_name, c_mktsegment, c_acctbal, customer_key,
       DATE '{D0}' AS effective_date,
       CASE WHEN c_custkey IN (SELECT c_custkey FROM changed)
            THEN DATE '{D1}' ELSE CAST(NULL AS DATE) END AS expiry_date,
       CASE WHEN c_custkey IN (SELECT c_custkey FROM changed) THEN 0 ELSE 1 END
         AS is_current
FROM init
UNION ALL
SELECT c_custkey, c_name, c_mktsegment, c_acctbal, customer_key,
       DATE '{D1}', CAST(NULL AS DATE), 1
FROM new_rows
"""


def scd2_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC extract of the second batch's merge: every dimension row the
    D1 load TOUCHED, labeled with its change kind — ``expire`` (old
    version closed), ``insert_changed`` (new version of an existing
    member) or ``insert_new`` (brand-new member). The change feed a
    warehouse publishes downstream after each merge so consumers update
    incrementally instead of re-reading the dimension (the incremental
    complement of the reference's full-replace loads).

    Derived from the merged dimension itself — rows are touched iff
    ``expiry_date = D1`` or ``effective_date = D1`` — so it stays correct
    for ANY merge the engine performs. ``insert_new`` is decided by
    anti-membership in the initial load's natural-key set (key absent
    from D0), not by any magic key threshold: TPC-H customer keys reach
    150000*sf, so at large sf a real customer key could cross any fixed
    constant the synthetic batch-2 uses.
    """
    # the dim derives from the same customer scan as the key set (one
    # memoized plan object — sources.tables), so the join must use
    # qualified aliases to be an unambiguous self-join
    dim = scd2_customer_two_batch(spark, sf_dir).alias("dim")
    d0_keys = (
        load_tables(spark, sf_dir, "customer")["customer"]
        .select("c_custkey")
        .distinct()
        .withColumn("__in_d0", F.lit(True))
        .alias("d0")
    )
    d1 = F.lit(D1).cast("date")
    return (
        dim.filter((F.col("expiry_date") == d1) | (F.col("effective_date") == d1))
        .join(d0_keys, F.col("dim.c_custkey") == F.col("d0.c_custkey"), "left")
        .select(
            F.col("dim.c_custkey").alias("c_custkey"),
            "customer_key",
            "c_acctbal",
            F.when(F.col("expiry_date") == d1, F.lit("expire"))
            .when(F.col("__in_d0").isNull(), F.lit("insert_new"))
            .otherwise(F.lit("insert_changed"))
            .alias("change_kind"),
        )
    )


SCD2_CHANGE_FEED_ORACLE = f"""
WITH dim AS ({SCD2_TWO_BATCH_ORACLE})
SELECT c_custkey, customer_key, c_acctbal,
       CASE WHEN expiry_date = DATE '{D1}' THEN 'expire'
            WHEN c_custkey NOT IN (SELECT c_custkey FROM customer)
              THEN 'insert_new'
            ELSE 'insert_changed' END AS change_kind
FROM dim
WHERE expiry_date = DATE '{D1}' OR effective_date = DATE '{D1}'
"""


# ---------------------------------------------------------------------------
# MERGE-shaped SCD2 publish: partition-overwrite (replaceWhere-style)
# idempotent dim publish keyed by batch. The merge PLAN is the identical
# set-based ``scd2_merge``; the WRITER publishes only the partitions a
# batch touches. Layout: partition column ``pub`` = 'current' for live
# rows, 'expired-<batch date>' for rows that batch closed — so batch D
# writes exactly {current, expired-D} via dynamic partition overwrite,
# every older expired-* partition is immutable history, and replaying a
# batch rewrites the same two partitions with identical content
# (idempotent under at-least-once delivery). At cluster scale this is
# the non-ACID stand-in for transactional MERGE INTO: per batch it
# rewrites |active dim| + |batch expirations| rows, never the history.
# ---------------------------------------------------------------------------

D2 = "2026-03-01"

_DIM_OUT_COLS = (
    "c_custkey",
    "c_name",
    "c_mktsegment",
    "c_acctbal",
    "customer_key",
    "effective_date",
    "expiry_date",
    "is_current",
)


def _customer_batch3(cust: DataFrame) -> DataFrame:
    """Deterministic third batch, CDC-style: ONLY the changed members
    (``scd2_merge`` carries absent members unchanged — no delete
    semantics, like the reference's dims). Every 3rd customer not
    already versioned by batch 2 gets a +500 balance."""
    return cust.filter(
        (F.col("c_custkey") % 3 == 0) & (F.col("c_custkey") % 10 != 0)
    ).select(
        "c_custkey",
        "c_name",
        "c_mktsegment",
        (F.col("c_acctbal") + 500).alias("c_acctbal"),
    )


def _scd2_partition_merge(spark: SparkSession, sf_dir: str, db: str) -> DataFrame:
    import os

    from ..sources import writers as W

    table = "dim_customer_pub"
    name = f"{db}.{table}"
    cust = load_tables(spark, sf_dir, "customer")["customer"]

    def tagged(df: DataFrame) -> DataFrame:
        # partition col LAST (insertInto is positional; saveAsTable moves
        # partition columns to the end of the catalog schema)
        return df.select(
            *_DIM_OUT_COLS,
            F.when(F.col("is_current") == 1, F.lit("current"))
            .otherwise(
                F.concat(F.lit("expired-"), F.col("expiry_date").cast("string"))
            )
            .alias("pub"),
        )

    _loc: list[str] = []

    def location() -> str:
        # memoized: the table's location is fixed at creation, and the
        # DESCRIBE FORMATTED collect costs a driver round trip per call
        if not _loc:
            _loc.append(
                [
                    r["data_type"]
                    for r in spark.sql(f"DESCRIBE FORMATTED {name}").collect()
                    if r["col_name"].strip() == "Location"
                ][0].removeprefix("file:")
            )
        return _loc[0]

    def partition_inventory(part: str) -> set:
        root = os.path.join(location(), f"pub={part}")
        out = set()
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                out.add((os.path.relpath(p, root), st.st_size, st.st_mtime_ns))
        return out

    def stored() -> DataFrame:
        return spark.table(name).select(*_DIM_OUT_COLS)

    def publish(merged: DataFrame, batch_date: str) -> DataFrame:
        """Write ONLY the partitions this batch touches: the full active
        set ('current') and the rows it expired ('expired-<date>').
        Materialized first — the delta is derived from the very table
        the dynamic overwrite rewrites."""
        delta = tagged(
            merged.filter(
                (F.col("is_current") == 1)
                | (F.col("expiry_date") == F.lit(batch_date).cast("date"))
            )
        ).localCheckpoint(eager=True)
        delta.write.insertInto(name, overwrite=True)
        return delta

    W.ensure_database(spark, db)
    # batch 0: initial load — full write, single 'current' partition
    dim0 = _initial_dim(spark, sf_dir, "customer", CUSTOMER_CFG, D0)
    tagged(dim0).write.partitionBy("pub").format("parquet").saveAsTable(name)
    # batch 1 (D1): merge against the STORED dim, publish {current, expired-D1}
    publish(scd2_merge(stored(), _customer_batch2(cust), CUSTOMER_CFG, D1), D1)
    # batch 2 (D2): expired-D1 is now immutable history — snapshot its
    # files, publish {current, expired-D2}, and assert the snapshot held
    hist_before = partition_inventory(f"expired-{D1}")
    delta2 = publish(
        scd2_merge(stored(), _customer_batch3(cust), CUSTOMER_CFG, D2), D2
    )
    untouched_ok = partition_inventory(f"expired-{D1}") == hist_before and bool(
        hist_before
    )
    # forced replay of batch 2's publish (at-least-once delivery): the
    # same two partitions rewrite with identical content
    before = stored().localCheckpoint(eager=True)
    delta2.write.insertInto(name, overwrite=True)
    after = stored()
    # multiset equality in ONE job: both directed differences empty
    replay_ok = after.exceptAll(before).union(before.exceptAll(after)).isEmpty()
    # checkpointed here: the caller drops the database
    checkpointed = after.localCheckpoint(eager=True)
    return checkpointed.withColumn(
        "untouched_partition_stable", F.lit(bool(untouched_ok))
    ).withColumn("replay_idempotent", F.lit(bool(replay_ok)))


def scd2_partition_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-batch SCD2 build published MERGE-style to a partitioned
    warehouse table: each batch dynamically overwrites only the
    partitions it touches ({current, expired-<batch>}), older expired-*
    partitions are byte-stable history (file-inventory asserted), and a
    forced replay of the last publish is content-idempotent. The merge
    plan itself is the same set-based ``scd2_merge`` the two-batch query
    uses; the oracle extends that query's SQL with the third (CDC-style,
    delta-only) batch."""
    import uuid

    from ..session import scoped_confs

    db = f"scd2_pub_{uuid.uuid4().hex[:12]}"
    try:
        with scoped_confs(
            spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}
        ):
            return _scd2_partition_merge(spark, sf_dir, db)
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


SCD2_PARTITION_MERGE_ORACLE = f"""
WITH {_SQL_SCD2_D1_CTES},
b3 AS (
  SELECT c_custkey, c_name, c_mktsegment, c_acctbal + 500 AS c_acctbal
  FROM (SELECT DISTINCT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer)
  WHERE c_custkey % 3 = 0 AND c_custkey % 10 <> 0
),
b3_rows AS (
  SELECT c_custkey, c_name, c_mktsegment, c_acctbal,
         (SELECT max(customer_key) FROM init) + (SELECT count(*) FROM inserts)
           + row_number() OVER (ORDER BY c_custkey, c_name, c_mktsegment, c_acctbal)
           AS customer_key
  FROM b3
)
SELECT c_custkey, c_name, c_mktsegment, c_acctbal, customer_key,
       DATE '{D0}' AS effective_date,
       CASE WHEN c_custkey IN (SELECT c_custkey FROM changed) THEN DATE '{D1}'
            WHEN c_custkey IN (SELECT c_custkey FROM b3) THEN DATE '{D2}'
            ELSE CAST(NULL AS DATE) END AS expiry_date,
       CASE WHEN c_custkey IN (SELECT c_custkey FROM changed)
              OR c_custkey IN (SELECT c_custkey FROM b3)
            THEN 0 ELSE 1 END AS is_current,
       TRUE AS untouched_partition_stable,
       TRUE AS replay_idempotent
FROM init
UNION ALL
SELECT c_custkey, c_name, c_mktsegment, c_acctbal, customer_key,
       DATE '{D1}', CAST(NULL AS DATE), 1, TRUE, TRUE
FROM new_rows
UNION ALL
SELECT c_custkey, c_name, c_mktsegment, c_acctbal, customer_key,
       DATE '{D2}', CAST(NULL AS DATE), 1, TRUE, TRUE
FROM b3_rows
"""


# ---------------------------------------------------------------------------
# Fact build: FK resolution against current dim rows (J1) + int date key
# ---------------------------------------------------------------------------


def fact_sales_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "lineitem", "orders")
    dim_customer = _initial_dim(spark, sf_dir, "customer", CUSTOMER_CFG, D0)
    dim_part = _initial_dim(spark, sf_dir, "part", PART_CFG, D0)

    fact = (
        t["lineitem"]
        .join(
            t["orders"].select("o_orderkey", "o_custkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("o_custkey").alias("c_custkey"),
            F.col("l_partkey").alias("p_partkey"),
            "o_orderdate",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
        )
    )
    cmap = current_key_map(dim_customer, CUSTOMER_CFG)
    pmap = current_key_map(dim_part, PART_CFG)
    # No hard broadcast() on the key maps: customer/part scale with the
    # corpus (broadcast policy, queries/relational.py module doc). AQE
    # picks broadcast-hash at test scale, shuffle strategies at 100 TB.
    return (
        fact.join(cmap, "c_custkey", "left")
        .join(pmap, "p_partkey", "left")
        .select(
            "l_orderkey",
            "l_linenumber",
            "customer_key",
            "part_key",
            # reference naming quirk: the int date_key lives under the
            # fact's original date column name (SURVEY §2.3)
            date_key(F.col("o_orderdate")).alias("order_date"),
            round_dp(F.col("rev")).alias("revenue"),
        )
    )


FACT_RESOLUTION_ORACLE = f"""
WITH dimc AS (
  SELECT c_custkey,
         row_number() OVER (ORDER BY c_custkey, c_name, c_mktsegment, c_acctbal)
           AS customer_key
  FROM (SELECT DISTINCT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer)
),
dimp AS (
  SELECT p_partkey,
         row_number() OVER (ORDER BY p_partkey, p_name, p_brand, p_type)
           AS part_key
  FROM (SELECT DISTINCT p_partkey, p_name, p_brand, p_type FROM part)
)
SELECT l_orderkey, l_linenumber, dimc.customer_key, dimp.part_key,
       CAST(strftime(CAST(o_orderdate AS DATE), '%Y%m%d') AS INTEGER) AS order_date,
       {sql_round_dp("l_extendedprice * (1 - l_discount)")} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
LEFT JOIN dimc ON o_custkey = dimc.c_custkey
LEFT JOIN dimp ON l_partkey = dimp.p_partkey
"""


# ---------------------------------------------------------------------------
# Marts (reference README.md:82-85): the documented pre-aggregations, run
# through the *actual* mart builders in pipelines.retail over a corpus star
# so the driver oracle covers the reference's last ETL stage.
# ---------------------------------------------------------------------------


def _corpus_star(spark: SparkSession, sf_dir: str) -> StarSchema:
    """Corpus analog of the retail star: part plays dim_product (p_type as
    category), lineitem+orders play the sales fact with sales = net
    revenue and profit = revenue minus the tax amount. Both measures stay
    at <= 4 decimal places (2-decimal inputs, one product each), so the
    decimal-space stable_sum never lands on a round(.,4) half-way point —
    a 6-decimal measure (e.g. rev*(1-tax)) would reintroduce the Spark
    HALF_UP vs DuckDB half-even tie."""
    t = load_tables(spark, sf_dir, "lineitem", "orders")
    dim_part = _initial_dim(spark, sf_dir, "part", PART_CFG, D0)
    dim_product = dim_part.select(
        F.col("part_key").alias("product_key"),
        F.col("p_type").alias("category"),
        "is_current",
    )
    pmap = current_key_map(dim_part, PART_CFG)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    fact = (
        t["lineitem"]
        .join(
            t["orders"].select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.col("l_partkey").alias("p_partkey"),
            date_key(F.col("o_orderdate")).alias("order_date"),
            rev.alias("sales"),
            (rev - F.col("l_extendedprice") * F.col("l_tax")).alias("profit"),
        )
        # part scales with the corpus — no hard broadcast hint (policy in
        # queries/relational.py module doc); AQE decides.
        .join(pmap, "p_partkey")
        .select("order_date", F.col("part_key").alias("product_key"), "sales", "profit")
    )
    return StarSchema(dimensions={"dim_product": dim_product}, fact=fact)


def mart_sales_performance(spark: SparkSession, sf_dir: str) -> DataFrame:
    return retail.mart_sales_performance(_corpus_star(spark, sf_dir))


def mart_category_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    return retail.mart_category_analysis(_corpus_star(spark, sf_dir))


_MART_FACT_SQL = """
  SELECT CAST(strftime(CAST(o_orderdate AS DATE), '%Y%m%d') AS INTEGER)
           AS order_date,
         l_partkey,
         l_extendedprice * (1 - l_discount) AS sales,
         l_extendedprice * (1 - l_discount) - l_extendedprice * l_tax AS profit
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
"""

MART_SALES_PERFORMANCE_ORACLE = f"""
SELECT order_date,
       {sql_stable_sum("sales")} AS total_sales,
       {sql_stable_sum("profit")} AS total_profit,
       count(*) AS n_rows
FROM ({_MART_FACT_SQL})
GROUP BY order_date
"""

MART_CATEGORY_ANALYSIS_ORACLE = f"""
SELECT p.p_type AS category,
       {sql_stable_sum("f.sales")} AS total_sales,
       {sql_stable_sum("f.profit")} AS total_profit,
       count(*) AS n_rows
FROM ({_MART_FACT_SQL}) f
JOIN part p ON f.l_partkey = p.p_partkey
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Incremental view maintenance (IVM) of the daily mart: at 100 TB a mart
# is never rebuilt from the fact — each ingest batch aggregates ITS OWN
# rows to group partials and merges them into the stored mart. Machinery
# in ``operators/ivm.py`` (exact DECIMAL(38,0) unit-total state,
# audit-table batch guard, rounding only at presentation); the streaming
# twin is ``streaming/pipelines.py::stream_mart_refresh``.
# ---------------------------------------------------------------------------

IVM_DELTA_MOD = 5  # orderkey % 5 == 0 rows arrive as the "late" batch


def _ivm_cfg():
    from ..operators.ivm import IVMConfig

    return IVMConfig(
        group_cols=("order_date",), unit_cols=("sales_u", "profit_u"), dp=4
    )


def mart_ivm_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mart's input rows with measures pre-converted to exact long
    units: order_date (int key), __ok (batch-split key), sales_u,
    profit_u. Shared by the batch and streaming IVM queries."""
    from ..functions.parity import fixed_units

    t = load_tables(spark, sf_dir, "lineitem", "orders")
    rev = "l_extendedprice * (1 - l_discount)"
    profit = f"{rev} - l_extendedprice * l_tax"
    return (
        t["lineitem"]
        .join(
            t["orders"].select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            date_key(F.col("o_orderdate")).alias("order_date"),
            F.col("l_orderkey").alias("__ok"),
            fixed_units(rev, 4).alias("sales_u"),
            fixed_units(profit, 4).alias("profit_u"),
        )
    )


def _mart_incremental_refresh(spark: SparkSession, sf_dir: str, db: str) -> DataFrame:
    from datetime import datetime

    from ..operators import ivm
    from ..sources import writers as W

    cfg = _ivm_cfg()
    # the join feeding the fact is consumed by BOTH batch filters —
    # persist so it computes once (unpersisted before return)
    fact = mart_ivm_fact(spark, sf_dir).persist()
    mart = "mart_daily_state"
    t0 = datetime(2026, 1, 1, 0, 0, 0)

    def apply(
        batch_id: str,
        batch_fact: DataFrame,
        version: int,
        partial: DataFrame | None = None,
    ) -> bool:
        return ivm.apply_batch(
            spark, batch_fact, batch_id, mart, db, cfg, t0, version,
            precomputed_partial=partial,
        )

    try:
        delta = fact.filter(F.col("__ok") % IVM_DELTA_MOD == 0)
        # the delta's partial aggregation does not depend on v0 (only its
        # merge into v1 does): build it while the base version publishes
        base_ok, delta_partial = overlap(
            spark,
            lambda: apply(
                "base", fact.filter(F.col("__ok") % IVM_DELTA_MOD != 0), 0
            ),
            lambda: ivm.state_partials(delta, cfg).localCheckpoint(eager=True),
        )
        delta_ok = apply("delta-1", delta, 1, partial=delta_partial)
        # at-least-once redelivery of the SAME batch: guarded no-op
        replay_skipped = not apply("delta-1", delta, 1)
        out = ivm.present(
            W.read_table(spark, ivm.state_table(mart, 1), database=db), cfg
        ).withColumn(
            "replay_skipped",
            F.lit(bool(base_ok and delta_ok and replay_skipped)),
        )
        return out.localCheckpoint(eager=True)
    finally:
        fact.unpersist()


def mart_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained daily sales mart: base load + one delta
    batch merged partial-wise (the base fact is aggregated once, never
    rescanned by the refresh), plus a replayed delta that the batch
    guard skips. The result is bit-identical to the full one-shot mart,
    which is the oracle."""
    import uuid

    db = f"ivm_demo_{uuid.uuid4().hex[:12]}"
    try:
        return _mart_incremental_refresh(spark, sf_dir, db)
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


MART_INCREMENTAL_REFRESH_ORACLE = f"""
SELECT order_date,
       {sql_stable_sum("sales")} AS total_sales,
       {sql_stable_sum("profit")} AS total_profit,
       count(*) AS n_rows,
       TRUE AS replay_skipped
FROM ({_MART_FACT_SQL})
GROUP BY order_date
"""


# ---------------------------------------------------------------------------
# Dashboard extract (reference dashboard/app.py:51-58): the single wide
# denormalized pull feeding every chart — fact joined back to dim_date /
# dim_customer / dim_product current rows. The reference ships the result
# to the client over Arrow (S9); here the same frame is the oracle-checked
# deliverable.
# ---------------------------------------------------------------------------


def dashboard_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "lineitem", "orders")
    dim_customer = _initial_dim(spark, sf_dir, "customer", CUSTOMER_CFG, D0)
    dim_part = _initial_dim(spark, sf_dir, "part", PART_CFG, D0)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    fact = (
        t["lineitem"]
        .join(
            t["orders"].select("o_orderkey", "o_custkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            "o_custkey",
            "l_partkey",
            F.col("o_orderdate").cast("date").alias("order_date"),
            rev.alias("sales"),
            (rev - F.col("l_extendedprice") * F.col("l_tax")).alias("profit"),
        )
    )
    # the dashboard filters both dims to is_current = 1 (app.py:58)
    cust_attrs = dim_customer.filter(F.col("is_current") == 1).select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    part_attrs = dim_part.filter(F.col("is_current") == 1).select(
        "p_partkey", F.col("p_type").alias("category")
    )
    # Broadcast policy (see queries/relational.py module doc): customer
    # and part scale WITH the corpus, so no hard broadcast() hint here —
    # a hard hint OOMs the build side at the 100 TB design point. At test
    # scale Catalyst's size estimate + AQE still pick broadcast-hash on
    # their own; at scale they degrade to shuffle-hash/sort-merge.
    return (
        fact.join(cust_attrs, F.col("o_custkey") == F.col("c_custkey"))
        .join(part_attrs, F.col("l_partkey") == F.col("p_partkey"))
        .select(
            round_dp(F.col("sales")).alias("sales"),
            round_dp(F.col("profit")).alias("profit"),
            "order_date",
            F.year("order_date").cast("int").alias("year"),
            "segment",
            "category",
        )
    )


DASHBOARD_EXTRACT_ORACLE = f"""
SELECT {sql_round_dp("l_extendedprice * (1 - l_discount)")} AS sales,
       {sql_round_dp("l_extendedprice * (1 - l_discount) - l_extendedprice * l_tax")}
         AS profit,
       CAST(o_orderdate AS DATE) AS order_date,
       CAST(year(CAST(o_orderdate AS DATE)) AS INTEGER) AS year,
       c.c_mktsegment AS segment,
       p.p_type AS category
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer c ON o_custkey = c.c_custkey
JOIN part p ON l_partkey = p.p_partkey
"""


# ---------------------------------------------------------------------------
# Bucketed co-located join: the pay-once shuffle-elimination layout for the
# warehouse's hottest join (orders <-> lineitem). ARCHITECTURE.md names
# bucketing as the 100 TB strategy for repeated fact<->fact joins; this is
# that strategy executed end-to-end, with the shuffle-free plan asserted in
# tests/test_warehouse_oracle.py.
# ---------------------------------------------------------------------------

N_BUCKETS = 16


def _bucketed_join(spark: SparkSession, sf_dir: str, db: str) -> DataFrame:
    """Write orders+lineitem hash-clustered on the order key (one file per
    bucket via the pre-repartition), then join the BUCKETED tables.

    Both scans expose the same hash distribution to Catalyst, so the
    ``merge``-hinted join plans as SortMergeJoin with ZERO Exchange on
    either side — the write-time shuffle replaced every future join
    shuffle on this key. The hint only pins the join family (broadcast
    would be chosen at toy scale and is impossible fact-vs-fact at
    100 TB); the shuffle elimination itself comes from the layout.
    """
    from ..sources import writers as W

    t = load_tables(spark, sf_dir, "orders", "lineitem")
    orders = t["orders"].select("o_orderkey", "o_orderstatus")
    li = t["lineitem"].select("l_orderkey", "l_extendedprice", "l_discount")
    # repartition to n_buckets on the bucket key: bucket hash == shuffle
    # hash, so every bucket lands in exactly one task -> one file per
    # bucket (multi-file buckets would force a per-partition re-sort).
    overlap(
        spark,
        lambda: W.write_bucketed_table(
            orders.repartition(N_BUCKETS, "o_orderkey"),
            "orders_bkt",
            ("o_orderkey",),
            N_BUCKETS,
            sort_cols=("o_orderkey",),
            database=db,
        ),
        lambda: W.write_bucketed_table(
            li.repartition(N_BUCKETS, "l_orderkey"),
            "lineitem_bkt",
            ("l_orderkey",),
            N_BUCKETS,
            sort_cols=("l_orderkey",),
            database=db,
        ),
    )
    o_b = W.read_table(spark, "orders_bkt", db)
    l_b = W.read_table(spark, "lineitem_bkt", db)
    return l_b.hint("merge").join(
        o_b, F.col("l_orderkey") == F.col("o_orderkey")
    )


def _bucketed_join_agg(spark: SparkSession, sf_dir: str, db: str) -> DataFrame:
    joined = _bucketed_join(spark, sf_dir, db)
    return joined.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        fixed_sum("l_extendedprice * (1 - l_discount)", 4).alias("revenue"),
    )


def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing wrapper: per-invocation namespace, materialize, then
    drop — repeated runs (bench warmup + timed, driver rounds) leave no
    warehouse state behind. Bucketing is layout-only, so the plain-join
    oracle gates the semantics."""
    import uuid

    db = f"bucketed_demo_{uuid.uuid4().hex[:12]}"
    try:
        out = _bucketed_join_agg(spark, sf_dir, db).localCheckpoint(eager=True)
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    return out


BUCKETED_COLOCATED_JOIN_ORACLE = f"""
SELECT o_orderstatus,
       count(*) AS n_items,
       {sql_stable_sum("l_extendedprice * (1 - l_discount)")} AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Partitioned fact + partition pruning: the other half of the warehouse
# layout story (bucketing kills join shuffles; date partitioning kills
# scan volume). write_table already supports partition_by — this runs it
# end-to-end and proves the year predicate prunes at the SOURCE
# (PartitionFilters on the scan, asserted in tests), which at 100 TB is
# the difference between reading one year and reading the whole fact.
# ---------------------------------------------------------------------------

PRUNE_YEAR = 1997


def _partitioned_fact(spark: SparkSession, sf_dir: str, db: str) -> DataFrame:
    """Write the order-dated fact partitioned by order_year, read it back
    filtered to one year. The filter must land in the scan's
    PartitionFilters (directory-level pruning — non-matching years are
    never listed, let alone read)."""
    from ..sources import writers as W

    t = load_tables(spark, sf_dir, "lineitem", "orders")
    fact = (
        t["lineitem"]
        .join(
            t["orders"].select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            "l_orderkey",
            "l_extendedprice",
            "l_discount",
            F.col("o_orderdate").cast("date").alias("order_date"),
            F.year("o_orderdate").cast("int").alias("order_year"),
        )
    )
    W.write_table(fact, "fact_dated", database=db, partition_by=("order_year",))
    return W.read_table(spark, "fact_dated", db).filter(
        F.col("order_year") == PRUNE_YEAR
    )


def _partitioned_fact_agg(spark: SparkSession, sf_dir: str, db: str) -> DataFrame:
    return (
        _partitioned_fact(spark, sf_dir, db)
        .groupBy(F.month("order_date").cast("int").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            fixed_sum(
                "l_extendedprice * (1 - l_discount)", 4
            ).alias("revenue"),
        )
    )


def partitioned_fact_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing wrapper: per-invocation namespace, materialize, drop.
    Partitioning is layout-only, so the plain filtered-join oracle gates
    the semantics; the pruning itself is asserted on the plan in
    tests/test_warehouse_oracle.py."""
    import uuid

    db = f"prune_demo_{uuid.uuid4().hex[:12]}"
    try:
        out = _partitioned_fact_agg(spark, sf_dir, db).localCheckpoint(
            eager=True
        )
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    return out


PARTITIONED_FACT_PRUNING_ORACLE = f"""
SELECT CAST(month(CAST(o_orderdate AS DATE)) AS INTEGER) AS month,
       count(*) AS n_items,
       {sql_stable_sum("l_extendedprice * (1 - l_discount)")} AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE CAST(year(CAST(o_orderdate AS DATE)) AS INTEGER) = {PRUNE_YEAR}
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Dynamic partition pruning: static pruning (above) needs the predicate on
# the partition column itself; in a star schema the selective predicate
# usually sits on a DIM attribute, and only the join links it to the
# fact's partition key. Catalyst's DPP turns the filtered (broadcast) dim
# into a runtime subquery filter on the fact scan — at 100 TB, the
# difference between scanning every year's partitions and only the years
# the dim filter selects, without the query author naming a year on the
# fact. The plan assertion (dynamicpruningexpression on the fact scan)
# lives in tests/test_warehouse_oracle.py.
# ---------------------------------------------------------------------------

DPP_FIRST_DATE = "1997-01-01"


def _dpp_filtered_sales(spark: SparkSession, sf_dir: str, db: str) -> DataFrame:
    from ..sources import writers as W

    t = load_tables(spark, sf_dir, "lineitem", "orders")
    fact = (
        t["lineitem"]
        .join(
            t["orders"].select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            "l_orderkey",
            "l_extendedprice",
            "l_discount",
            F.year("o_orderdate").cast("int").alias("order_year"),
        )
    )
    W.write_table(fact, "fact_dpp", database=db, partition_by=("order_year",))
    fact_read = W.read_table(spark, "fact_dpp", db)
    # year dim with a non-key attribute; the filter is on the ATTRIBUTE,
    # so only DPP can prune the fact's year partitions
    dim_year = (
        t["orders"]
        .groupBy(F.year("o_orderdate").cast("int").alias("order_year"))
        .agg(F.min(F.col("o_orderdate").cast("date")).alias("first_order_date"))
    )
    recent = dim_year.filter(
        F.col("first_order_date") >= F.lit(DPP_FIRST_DATE).cast("date")
    )
    return (
        fact_read.join(recent, "order_year")
        .groupBy("order_year")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            fixed_sum(
                "l_extendedprice * (1 - l_discount)", 4
            ).alias("revenue"),
        )
    )


def dpp_dim_filtered_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing wrapper (per-invocation namespace, materialize, drop).
    Partition layout is semantics-free, so the plain filtered-join oracle
    gates the values; the runtime pruning itself is plan-asserted."""
    import uuid

    db = f"dpp_demo_{uuid.uuid4().hex[:12]}"
    try:
        out = _dpp_filtered_sales(spark, sf_dir, db).localCheckpoint(eager=True)
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    return out


# ---------------------------------------------------------------------------
# Runtime bloom-filter join pruning: DPP (above) prunes PARTITIONS when the
# join key is the partition column; when it is not, Catalyst's
# InjectRuntimeFilter plants a bloom filter built from the filtered build
# side as a semi-join predicate on the probe scan — probe rows whose key
# cannot match are dropped MAP-SIDE, before the shuffle. At 100 TB with a
# dim too large to broadcast, that is the difference between shuffling the
# whole fact and shuffling the ~20% that survives the filter. Injection
# requires a shuffle join and a large probe scan, so the demo scopes two
# confs to reproduce the at-scale plan shape on the toy corpus: broadcast
# off (a 100 TB dim does not broadcast) and the probe-scan size floor
# lowered (the sf0.1 fact is far below the 10 GiB default). The rewrite is
# semantics-free, so the plain filtered-join oracle gates the values; the
# might_contain predicate itself is plan-asserted in
# tests/test_warehouse_oracle.py.
# ---------------------------------------------------------------------------

BLOOM_PRIORITY = "1-URGENT"

BLOOM_JOIN_CONFS = {
    # a corpus-scale dim is not broadcastable — force the shuffle-join
    # plan shape that injection targets (both planning-time and AQE)
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    # the toy fact scan is below the 10 GiB injection floor
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
}


def _bloom_fact_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lazy join+agg; execute while ``BLOOM_JOIN_CONFS`` is in force for
    the bloom filter to be injected (Catalyst reads confs at optimization
    time)."""
    t = load_tables(spark, sf_dir, "lineitem", "orders")
    li = t["lineitem"].select("l_orderkey", "l_extendedprice", "l_discount")
    urgent = (
        t["orders"]
        .filter(F.col("o_orderpriority") == BLOOM_PRIORITY)
        .select("o_orderkey", "o_orderdate")
    )
    return (
        li.join(urgent, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.month("o_orderdate").cast("int").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            fixed_sum(
                "l_extendedprice * (1 - l_discount)", 4
            ).alias("revenue"),
        )
    )


def bloom_pruned_fact_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing wrapper: materialize under the scoped at-scale confs
    (restored on exit), so the executed plan carries the injected
    bloom-filter predicate on the lineitem scan."""
    from ..session import scoped_confs

    with scoped_confs(spark, BLOOM_JOIN_CONFS):
        return _bloom_fact_join(spark, sf_dir).localCheckpoint(eager=True)


BLOOM_PRUNED_FACT_JOIN_ORACLE = f"""
SELECT CAST(month(CAST(o_orderdate AS DATE)) AS INTEGER) AS month,
       count(*) AS n_items,
       {sql_stable_sum("l_extendedprice * (1 - l_discount)")} AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '{BLOOM_PRIORITY}'
GROUP BY 1
"""


DPP_DIM_FILTERED_SALES_ORACLE = f"""
WITH dim_year AS (
  SELECT CAST(year(CAST(o_orderdate AS DATE)) AS INTEGER) AS order_year,
         min(CAST(o_orderdate AS DATE)) AS first_order_date
  FROM orders GROUP BY 1
)
SELECT f.order_year,
       count(*) AS n_items,
       {sql_stable_sum("l_extendedprice * (1 - l_discount)")} AS revenue
FROM (
  SELECT l_extendedprice, l_discount,
         CAST(year(CAST(o_orderdate AS DATE)) AS INTEGER) AS order_year
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
) f
JOIN dim_year d ON f.order_year = d.order_year
WHERE d.first_order_date >= DATE '{DPP_FIRST_DATE}'
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Small-file compaction as a recorded maintenance op
# ---------------------------------------------------------------------------

COMPACT_FRAGMENTS = 64  # deliberately fragmented ingest to compact


def warehouse_compaction_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The small-files maintenance pass, recorded end to end: a
    deliberately fragmented append-sink layout (64 files) is compacted
    to footprint-sized files (``sources/writers.compact_parquet`` — the
    streaming-sink cleanup every 100 TB table needs), and the report
    proves (a) the file count actually dropped, (b) not one row or
    value changed across the rewrite — the row count and an
    order-insensitive value checksum are value-gated against the source
    recomputation. Work-asymmetric (two table writes per invocation)."""
    import os
    import shutil
    import tempfile

    from ..functions.text import md5_long
    from ..sources.writers import compact_parquet

    orders = load_tables(spark, sf_dir, "orders")["orders"].select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    base = tempfile.mkdtemp(prefix="compact_demo_")
    path = f"{base}/fragmented"
    try:
        orders.repartition(COMPACT_FRAGMENTS).write.mode("overwrite").parquet(path)

        def n_files() -> int:
            return len([f for f in os.listdir(path) if f.endswith(".parquet")])

        files_before = n_files()
        compact_parquet(spark, path)
        files_after = n_files()
        after = spark.read.parquet(path)
        # order-insensitive key checksum: 60-bit md5 of the key pair,
        # folded mod 2^31 so the sum stays exact in BIGINT on both engines
        h = md5_long(F.concat_ws("|", "o_orderkey", "o_custkey")) % F.lit(1 << 31)
        checked = after.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(h).alias("key_checksum"),
            fixed_sum("o_totalprice", 2).alias("total_price"),
        ).collect()[0]
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return local_frame(
        spark,
        [
            (
                bool(files_before == COMPACT_FRAGMENTS),
                bool(files_after < files_before),
                int(checked["n_rows"]),
                int(checked["key_checksum"]),
                float(checked["total_price"]),
            )
        ],
        "was_fragmented BOOLEAN, compacted BOOLEAN, n_rows BIGINT, "
        "key_checksum BIGINT, total_price DOUBLE",
    )


def _sql_compaction_oracle() -> str:
    from ..functions.text import sql_md5_long

    h = sql_md5_long("o_orderkey || '|' || o_custkey")
    return f"""
SELECT TRUE AS was_fragmented,
       TRUE AS compacted,
       count(*) AS n_rows,
       CAST(sum(({h}) % {1 << 31}) AS BIGINT) AS key_checksum,
       {sql_stable_sum("o_totalprice")} AS total_price
FROM orders
"""


# ---------------------------------------------------------------------------
# Late-arriving dimension (inferred members, surrogate-stable correction)
# ---------------------------------------------------------------------------

LATE_MOD = 10  # customers with c_custkey % LATE_MOD == 0 arrive late


def fact_late_arriving_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arriving dimension handling: facts referencing a member the
    dim has not seen yet get an INFERRED placeholder row (surrogate key
    assigned immediately — the fact must load now), and the late dim
    batch later CORRECTS the placeholder in place. The warehouse
    invariant is that correction never renumbers: every fact row keyed
    to the inferred surrogate stays valid — asserted here by comparing
    the (natural key -> surrogate) map before and after the correction
    (`surrogates_stable`). `all_corrected` asserts no placeholder
    survives the late batch.

    Scale shape: inferred members are discovered with one left-anti join
    of the fact's DISTINCT keys against the dim (dimension-sized);
    correction is a dim-sized equi-join that touches no fact rows. The
    final report equals the as-if-complete dim, which is the oracle."""
    from ..operators.keys import with_global_row_number

    t = load_tables(spark, sf_dir, "customer", "orders")
    cust = t["customer"].select("c_custkey", "c_mktsegment")
    orders = t["orders"]
    known = cust.where(F.col("c_custkey") % LATE_MOD != 0)
    late = cust.where(F.col("c_custkey") % LATE_MOD == 0)

    dim0 = known.withColumn("inferred", F.lit(False))
    missing = (
        orders.select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
        .join(dim0.select("c_custkey"), "c_custkey", "left_anti")
    )
    inferred = missing.select(
        "c_custkey",
        F.lit("UNKNOWN").alias("c_mktsegment"),
        F.lit(True).alias("inferred"),
    )
    dim1 = with_global_row_number(
        dim0.unionByName(inferred), ["c_custkey"], "sk"
    ).localCheckpoint(eager=True)

    # correction: same natural key -> real attributes, flag cleared,
    # surrogate CARRIED THROUGH the join (never renumbered)
    lt = late.select(
        F.col("c_custkey"), F.col("c_mktsegment").alias("__late_seg")
    )
    dim2 = (
        dim1.join(lt, "c_custkey", "left")
        .select(
            "c_custkey",
            F.coalesce(F.col("__late_seg"), F.col("c_mktsegment")).alias(
                "c_mktsegment"
            ),
            (F.col("inferred") & F.col("__late_seg").isNull()).alias("inferred"),
            (F.col("inferred") | F.col("__late_seg").isNotNull()).alias(
                "was_late"
            ),
            "sk",
        )
        .localCheckpoint(eager=True)
    )
    stable = (
        dim2.select("c_custkey", "sk")
        .exceptAll(dim1.select("c_custkey", "sk"))
        .count()
        == 0
    )
    uncorrected_with_facts = (
        orders.join(
            dim2.where("inferred"),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_semi",
        ).count()
        == 0
    )
    return (
        orders.join(dim2, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            fixed_sum("o_totalprice", 2).alias("revenue"),
            F.count_distinct(
                F.when(F.col("c_custkey") % LATE_MOD == 0, F.col("c_custkey"))
            ).alias("n_inferred_members"),
        )
        .withColumn("all_corrected", F.lit(bool(uncorrected_with_facts)))
        .withColumn("surrogates_stable", F.lit(bool(stable)))
    )


FACT_LATE_ARRIVING_DIM_ORACLE = f"""
SELECT c_mktsegment AS segment,
       count(*) AS n_orders,
       {sql_stable_sum("o_totalprice")} AS revenue,
       CAST(count(DISTINCT CASE WHEN c_custkey % {LATE_MOD} = 0
                                THEN c_custkey END) AS BIGINT)
         AS n_inferred_members,
       TRUE AS all_corrected,
       TRUE AS surrogates_stable
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Federated multi-source join (the reference's namesake integration hub)
# ---------------------------------------------------------------------------

_DERBY_DRIVER = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}


def federated_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's namesake pattern end-to-end: ONE query joining
    three source systems — the customer dimension staged through a LIVE
    JDBC database (embedded Derby, reference S4/S5), the orders fact
    from parquet, and the event stream table — into a per-segment
    revenue + engagement report. Source staging is semantics-free, so
    the oracle is the same join over the raw tables.

    Scale shape: the JDBC read is range-partitioned on the key (the
    reference's single-connection `read_sql` does not survive at scale);
    the joins and aggregations are ordinary Catalyst plans once each
    source is a DataFrame — that IS the integration-hub claim. The event
    join uses user_id == c_custkey (the corpus's synthetic identity).
    Work-asymmetric (JDBC round-trip per invocation)."""
    import shutil
    import tempfile

    from ..sources.readers import read_jdbc, write_jdbc

    t = load_tables(spark, sf_dir, "customer", "orders", "events")
    base = tempfile.mkdtemp(prefix="federated_jdbc_")
    url = f"jdbc:derby:{base}/db;create=true"
    try:
        dim = t["customer"].select("c_custkey", "c_mktsegment")
        write_jdbc(dim, url, "stg_customer", properties=_DERBY_DRIVER)
        b = dim.agg(
            F.min("c_custkey").alias("lo"), F.max("c_custkey").alias("hi")
        ).collect()[0]
        cust = read_jdbc(
            spark,
            url,
            "stg_customer",
            properties=_DERBY_DRIVER,
            partition_column="c_custkey",
            num_partitions=4,
            lower_bound=int(b["lo"]),
            upper_bound=int(b["hi"]) + 1,
        )
        seg = cust.groupBy(F.col("c_mktsegment").alias("segment")).agg(
            F.count(F.lit(1)).alias("n_customers")
        )
        rev = (
            t["orders"]
            .join(cust, F.col("o_custkey") == F.col("c_custkey"))
            .groupBy(F.col("c_mktsegment").alias("segment"))
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                fixed_sum("o_totalprice", 2).alias("total_revenue"),
            )
        )
        ev = (
            t["events"]
            .join(cust, F.col("user_id") == F.col("c_custkey"))
            .groupBy(F.col("c_mktsegment").alias("segment"))
            .agg(F.count(F.lit(1)).alias("n_events"))
        )
        out = (
            seg.join(rev, "segment")
            .join(ev, "segment")
            .localCheckpoint(eager=True)  # materialize before Derby dies
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


FEDERATED_SEGMENT_REVENUE_ORACLE = f"""
WITH seg AS (
  SELECT c_mktsegment AS segment, count(*) AS n_customers
  FROM customer GROUP BY 1
),
rev AS (
  SELECT c_mktsegment AS segment,
         count(*) AS n_orders,
         {sql_stable_sum("o_totalprice")} AS total_revenue
  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1
),
ev AS (
  SELECT c_mktsegment AS segment, count(*) AS n_events
  FROM events JOIN customer ON user_id = c_custkey GROUP BY 1
)
SELECT segment, n_customers, n_orders, total_revenue, n_events
FROM seg JOIN rev USING (segment) JOIN ev USING (segment)
"""


# ---------------------------------------------------------------------------
# Key erasure (right-to-be-forgotten): partition-scoped delete rewrite
# ---------------------------------------------------------------------------

ERASE_MOD = 113  # deterministic stand-in for the erasure-request list
ERASE_BUCKETS = 16  # fact partitioned by customer-key bucket


def warehouse_key_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten over a partitioned fact: delete every row of
    the requested customer keys by REWRITING ONLY the partitions that
    contain them, and prove the others never moved (file inventory
    compared before/after).

    The at-scale design point is the LAYOUT: the fact is partitioned by
    a key-derived bucket (``o_custkey % ERASE_BUCKETS``), so an erasure
    batch of k keys touches <= k buckets — with a date-partitioned fact,
    one user's history would force rewriting every partition. The delete
    itself is a broadcast ANTI-join against the request list (a key
    TABLE, not a predicate — request lists arrive as data), then one
    dynamic partition overwrite of the touched buckets.

    Booleans gate the operational claims (erasure complete; untouched
    partition files bit-identical); the per-bucket row counts are
    value-gated against the source recomputation. Work-asymmetric
    (table build + rewrite per invocation)."""
    import os
    import uuid

    from ..session import scoped_confs
    from ..sources import writers as W

    db = f"gdpr_demo_{uuid.uuid4().hex[:12]}"
    table = "fact_orders_gdpr"
    name = f"{db}.{table}"
    try:
        orders = load_tables(spark, sf_dir, "orders")["orders"]
        fact = orders.select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            (F.col("o_custkey") % ERASE_BUCKETS).cast("int").alias("bucket"),
        )
        W.write_table(fact, table, database=db, partition_by=("bucket",))
        stored = spark.table(name)

        # the erasure-request list is a small TABLE (broadcast side)
        keys = (
            stored.where(F.col("o_custkey") % ERASE_MOD == 0)
            .select("o_custkey")
            .distinct()
        )
        before = {
            r["bucket"]: r["n"]
            for r in stored.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        touched = sorted(
            r["bucket"]
            for r in keys.select(
                (F.col("o_custkey") % ERASE_BUCKETS).cast("int").alias("bucket")
            )
            .distinct()
            .collect()
        )
        loc = [
            r["data_type"]
            for r in spark.sql(f"DESCRIBE FORMATTED {name}").collect()
            if r["col_name"].strip() == "Location"
        ][0].removeprefix("file:")
        untouched = sorted(set(before) - set(touched))

        def inventory(buckets) -> set:
            out = set()
            for b in buckets:
                root = os.path.join(loc, f"bucket={b}")
                for dirpath, _dirs, files in os.walk(root):
                    for f in files:
                        p = os.path.join(dirpath, f)
                        st = os.stat(p)
                        out.add((os.path.relpath(p, loc), st.st_size, st.st_mtime_ns))
            return out

        inv_before = inventory(untouched)
        # rewrite ONLY touched buckets: anti-join the request list out.
        # Materialized first — the remainder is derived from the very
        # partitions the dynamic overwrite replaces.
        remainder = (
            stored.where(F.col("bucket").isin([int(b) for b in touched]))
            .join(F.broadcast(keys), "o_custkey", "left_anti")
            .select(*stored.columns)
            .localCheckpoint(eager=True)
        )
        with scoped_confs(
            spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}
        ):
            remainder.write.insertInto(name, overwrite=True)

        # dynamic overwrite writes NOTHING for a touched bucket whose
        # rows were ALL erased — the stale partition (and its PII files)
        # would silently survive; drop those partitions explicitly
        survivors = {
            int(r["bucket"])
            for r in remainder.select("bucket").distinct().collect()
        }
        for b in touched:
            if int(b) not in survivors:
                spark.sql(
                    f"ALTER TABLE {name} DROP IF EXISTS "
                    f"PARTITION (bucket={int(b)})"
                )

        after = spark.table(name)
        leftover = after.where(F.col("o_custkey") % ERASE_MOD == 0).count()
        # vacuously true when every bucket was touched (possible at larger
        # SFs where the request list covers all residues);
        # tests/test_key_erasure.py asserts non-vacuity at the oracle SF
        intact = inventory(untouched) == inv_before
        counts = {
            int(r["bucket"]): int(r["rows_after"])
            for r in after.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("rows_after"))
            .collect()
        }
        # emit one row per ORIGINAL bucket: a fully-erased bucket is
        # absent from the table after the drop but the oracle (and the
        # erasure report a user expects) carries it with rows_after=0
        rows = [
            (
                int(b),
                counts.get(int(b), 0),
                int(before[b] - counts.get(int(b), 0)),
                bool(leftover == 0),
                bool(intact),
            )
            for b in sorted(before)
        ]
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    return local_frame(
        spark,
        rows,
        "bucket INT, rows_after BIGINT, rows_erased BIGINT, "
        "erasure_complete BOOLEAN, untouched_files_intact BOOLEAN",
    )


WAREHOUSE_KEY_ERASURE_ORACLE = f"""
SELECT CAST(o_custkey % {ERASE_BUCKETS} AS INT) AS bucket,
       CAST(sum(CASE WHEN o_custkey % {ERASE_MOD} = 0 THEN 0 ELSE 1 END)
            AS BIGINT) AS rows_after,
       CAST(sum(CASE WHEN o_custkey % {ERASE_MOD} = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS rows_erased,
       TRUE AS erasure_complete,
       TRUE AS untouched_files_intact
FROM orders GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Layout clustering: measured file skipping (sources/layout.py)
# ---------------------------------------------------------------------------

LAYOUT_N_FILES = 16
# fractional bands over each column's [min, max]: identical arithmetic is
# evaluated by the oracle in SQL, so the row-count check is exact
LAYOUT_SEC_BAND = (0.40, 0.45)  # secondary dim (l_suppkey), ~5% of the domain
LAYOUT_LEAD_BAND = (0.50, 0.55)  # leading dim (l_partkey)


def fact_layout_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the fact twice — range-clustered on l_partkey and Z-ordered
    on (l_partkey, l_suppkey) — and measure what a min/max file index
    would skip (sources/layout.py). Claims emitted as booleans (file
    counts depend on range-sampler splits, so the oracle gates the
    CLAIMS, not the counts — same contract as the sketch-bound queries);
    ``rows_in_band`` is counted through the Z-ordered roundtrip and
    oracle-checked against the source table, pinning write fidelity.

    Work-asymmetric by design (two table writes per invocation — the
    production pattern pays the write once and skips on every read);
    excluded from the engine-vs-engine gate set like the other
    write-path demos.

    After ``domains`` the linear and Z-order chains are independent (each
    writes and reads only its own directory), so the two chains run
    through ``overlap``."""
    import shutil
    import tempfile

    from ..sources import layout

    li = load_tables(spark, sf_dir, "lineitem")["lineitem"].select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    domains = layout.column_domains(li, ("l_partkey", "l_suppkey"))
    (plo, phi), (slo, shi) = domains["l_partkey"], domains["l_suppkey"]
    sec_box = {
        "l_suppkey": (
            slo + LAYOUT_SEC_BAND[0] * (shi - slo),
            slo + LAYOUT_SEC_BAND[1] * (shi - slo),
        )
    }
    lead_box = {
        "l_partkey": (
            plo + LAYOUT_LEAD_BAND[0] * (phi - plo),
            plo + LAYOUT_LEAD_BAND[1] * (phi - plo),
        )
    }
    tmp = tempfile.mkdtemp(prefix="layout_demo_")
    try:
        linear, zordered = f"{tmp}/linear", f"{tmp}/zorder"

        def linear_chain():
            layout.write_range_clustered(
                li, linear, ("l_partkey",), LAYOUT_N_FILES
            )
            return (
                layout.file_skipping_report(spark, linear, sec_box),
                layout.file_skipping_report(spark, linear, lead_box),
            )

        def zorder_chain():
            layout.write_zordered(
                li, zordered, "l_partkey", "l_suppkey", LAYOUT_N_FILES, domains
            )
            (lo_b, hi_b) = sec_box["l_suppkey"]
            return (
                layout.file_skipping_report(spark, zordered, sec_box),
                spark.read.parquet(zordered)
                .where((F.col("l_suppkey") >= lo_b) & (F.col("l_suppkey") <= hi_b))
                .count(),
            )

        ((lin_hit, total), (lead_hit, _)), ((z_hit, _), rows_in_band) = overlap(
            spark, linear_chain, zorder_chain
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return local_frame(
        spark,
        [
            (
                bool(z_hit <= total // 2),
                bool(lin_hit >= total - 2),
                bool(lead_hit <= 3),
                bool(z_hit < lin_hit),
                int(rows_in_band),
            )
        ],
        "zorder_skips_secondary BOOLEAN, linear_blind_secondary BOOLEAN, "
        "linear_skips_leading BOOLEAN, zorder_beats_linear BOOLEAN, "
        "rows_in_band BIGINT",
    )


FACT_LAYOUT_SKIPPING_ORACLE = f"""
WITH d AS (SELECT min(l_suppkey) AS lo, max(l_suppkey) AS hi FROM lineitem)
SELECT TRUE AS zorder_skips_secondary,
       TRUE AS linear_blind_secondary,
       TRUE AS linear_skips_leading,
       TRUE AS zorder_beats_linear,
       (SELECT count(*) FROM lineitem, d
        WHERE l_suppkey >= lo + {LAYOUT_SEC_BAND[0]} * (hi - lo)
          AND l_suppkey <= lo + {LAYOUT_SEC_BAND[1]} * (hi - lo)) AS rows_in_band
"""


# ---------------------------------------------------------------------------
# Snapshot diff (table-version change audit)
# ---------------------------------------------------------------------------


def dim_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version-over-version change audit of a dimension snapshot — the
    lakehouse "what changed between v1 and v2" artifact. v2 is a
    deterministic evolution of the customer dim derived from the input
    (updates: +100.00 balance where custkey%7=0; deletes: custkey%11=3;
    inserts: negated-key copies where custkey%13=5), and the diff is one
    FULL OUTER join on the key classifying every key as added / removed
    / changed / unchanged, with the exact change-set signature (which
    columns differ, null-safe compares) for changed keys. Output: one
    row per (status, changed_cols) signature with its key count — the
    change histogram a publish gate inspects before promoting v2.

    Scale shape: the diff is ONE co-shuffled full join at dimension
    grain (bucket both snapshots by key at 100 TB and it is
    exchange-free); the histogram is signature-count-sized."""
    c = load_tables(spark, sf_dir, "customer")["customer"]
    v1 = c.select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    surviving = v1.where(F.col("c_custkey") % 11 != 3)
    updated = surviving.select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.when(
            F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + F.lit(100.0)
        ).otherwise(F.col("c_acctbal")).alias("c_acctbal"),
        "c_mktsegment",
    )
    inserts = v1.where(F.col("c_custkey") % 13 == 5).select(
        (-F.col("c_custkey")).alias("c_custkey"),
        F.concat(F.col("c_name"), F.lit(" (new)")).alias("c_name"),
        "c_nationkey",
        "c_acctbal",
        "c_mktsegment",
    )
    v2 = updated.unionByName(inserts)

    a = v1.select([F.col(col).alias(f"a_{col}") for col in v1.columns])
    b = v2.select([F.col(col).alias(f"b_{col}") for col in v2.columns])
    j = a.join(
        b, a["a_c_custkey"] == b["b_c_custkey"], "full_outer"
    )
    attrs = ("c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    diff_flags = [
        (~F.col(f"a_{col}").eqNullSafe(F.col(f"b_{col}"))).alias(f"__d_{col}")
        for col in attrs
    ]
    flagged = j.select(
        F.col("a_c_custkey").alias("__ka"),
        F.col("b_c_custkey").alias("__kb"),
        *diff_flags,
    )
    any_diff = None
    for col in attrs:
        d = F.col(f"__d_{col}")
        any_diff = d if any_diff is None else (any_diff | d)
    status = (
        F.when(F.col("__ka").isNull(), F.lit("added"))
        .when(F.col("__kb").isNull(), F.lit("removed"))
        .when(any_diff, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    changed_cols = F.when(
        F.col("__ka").isNotNull() & F.col("__kb").isNotNull(),
        F.concat_ws(
            ",",
            *[
                F.when(F.col(f"__d_{col}"), F.lit(col))
                for col in attrs
            ],
        ),
    ).otherwise(F.lit(""))
    return (
        flagged.select(status.alias("status"), changed_cols.alias("changed_cols"))
        .groupBy("status", "changed_cols")
        .agg(F.count(F.lit(1)).alias("n_keys"))
    )


_SNAP_ATTRS = ("c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
_SNAP_DIFFS = " OR ".join(
    f"(a.{col} IS DISTINCT FROM b.{col})" for col in _SNAP_ATTRS
)
_SNAP_CHANGED = ", ".join(
    f"CASE WHEN a.{col} IS DISTINCT FROM b.{col} THEN '{col}' END"
    for col in _SNAP_ATTRS
)

DIM_SNAPSHOT_DIFF_ORACLE = f"""
WITH __v1 AS (
  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer
),
__v2 AS (
  SELECT c_custkey, c_name, c_nationkey,
         CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
              ELSE c_acctbal END AS c_acctbal,
         c_mktsegment
  FROM __v1 WHERE c_custkey % 11 <> 3
  UNION ALL
  SELECT -c_custkey, c_name || ' (new)', c_nationkey, c_acctbal, c_mktsegment
  FROM __v1 WHERE c_custkey % 13 = 5
),
__j AS (
  SELECT a.c_custkey AS ka, b.c_custkey AS kb,
         CASE WHEN a.c_custkey IS NULL THEN 'added'
              WHEN b.c_custkey IS NULL THEN 'removed'
              WHEN {_SNAP_DIFFS} THEN 'changed'
              ELSE 'unchanged' END AS status,
         CASE WHEN a.c_custkey IS NOT NULL AND b.c_custkey IS NOT NULL
              THEN concat_ws(',', {_SNAP_CHANGED})
              ELSE '' END AS changed_cols
  FROM __v1 a FULL OUTER JOIN __v2 b ON a.c_custkey = b.c_custkey
)
SELECT status, changed_cols, count(*) AS n_keys
FROM __j GROUP BY 1, 2
"""


QUERIES = {
    "warehouse_compaction_report": warehouse_compaction_report,
    "dim_snapshot_diff": dim_snapshot_diff,
    "fact_late_arriving_dim": fact_late_arriving_dim,
    "federated_segment_revenue": federated_segment_revenue,
    "warehouse_key_erasure": warehouse_key_erasure,
    "fact_layout_skipping": fact_layout_skipping,
    "dim_date_calendar": dim_date_calendar,
    "dim_customer_scd2_init": dim_customer_scd2_init,
    "scd2_customer_two_batch": scd2_customer_two_batch,
    "scd2_change_feed": scd2_change_feed,
    "scd2_partition_merge": scd2_partition_merge,
    "mart_incremental_refresh": mart_incremental_refresh,
    "fact_sales_resolution": fact_sales_resolution,
    "mart_sales_performance": mart_sales_performance,
    "mart_category_analysis": mart_category_analysis,
    "dashboard_extract": dashboard_extract,
    "bucketed_colocated_join": bucketed_colocated_join,
    "partitioned_fact_pruning": partitioned_fact_pruning,
    "dpp_dim_filtered_sales": dpp_dim_filtered_sales,
    "bloom_pruned_fact_join": bloom_pruned_fact_join,
}

ORACLES = {
    "dim_snapshot_diff": DIM_SNAPSHOT_DIFF_ORACLE,
    "warehouse_compaction_report": _sql_compaction_oracle(),
    "fact_late_arriving_dim": FACT_LATE_ARRIVING_DIM_ORACLE,
    "federated_segment_revenue": FEDERATED_SEGMENT_REVENUE_ORACLE,
    "warehouse_key_erasure": WAREHOUSE_KEY_ERASURE_ORACLE,
    "fact_layout_skipping": FACT_LAYOUT_SKIPPING_ORACLE,
    "dim_date_calendar": DIM_DATE_ORACLE,
    "dim_customer_scd2_init": DIM_CUSTOMER_INIT_ORACLE,
    "scd2_customer_two_batch": SCD2_TWO_BATCH_ORACLE,
    "scd2_change_feed": SCD2_CHANGE_FEED_ORACLE,
    "scd2_partition_merge": SCD2_PARTITION_MERGE_ORACLE,
    "mart_incremental_refresh": MART_INCREMENTAL_REFRESH_ORACLE,
    "fact_sales_resolution": FACT_RESOLUTION_ORACLE,
    "mart_sales_performance": MART_SALES_PERFORMANCE_ORACLE,
    "mart_category_analysis": MART_CATEGORY_ANALYSIS_ORACLE,
    "dashboard_extract": DASHBOARD_EXTRACT_ORACLE,
    "bucketed_colocated_join": BUCKETED_COLOCATED_JOIN_ORACLE,
    "partitioned_fact_pruning": PARTITIONED_FACT_PRUNING_ORACLE,
    "dpp_dim_filtered_sales": DPP_DIM_FILTERED_SALES_ORACLE,
    "bloom_pruned_fact_join": BLOOM_PRUNED_FACT_JOIN_ORACLE,
}
