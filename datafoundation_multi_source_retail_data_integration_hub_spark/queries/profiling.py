"""Distribution analytics and data profiling: exact deciles, multi-level
grouping-set aggregates, and moment statistics (stddev / correlation).

The reference's dashboard profiles its data with pandas ``describe``-style
aggregates and segment breakdowns (`/root/reference/dashboard/app.py:84-99`);
these queries are the engine-grade versions:

- ``customer_revenue_deciles`` — EXACT decile assignment over per-customer
  revenue. A naive ``ntile(10) OVER (ORDER BY ...)`` funnels the whole
  table through one window task; here the global rank comes from the
  distributed two-phase numbering in ``operators/keys.py`` (range
  repartition -> per-partition row_number -> broadcast per-partition
  offsets), so the plan scales to any customer count. The decile is then
  ``floor((rank-1) * 10 / n)`` — a pure expression on the rank.
- ``order_grouping_sets`` — one pass producing three aggregation levels
  (flag x status, flag, grand total) with ``grouping()`` indicator
  columns: Spark expands grouping sets into a single hash aggregation,
  the relational equivalent of the reference's separate dashboard
  rollups.
- ``lineitem_stats_profile`` — count / mean / stddev / correlation in one
  scan via raw moments. Each moment is accumulated in DECIMAL (exact,
  associative — see ``functions/parity.py``), so the derived doubles are
  bit-identical across engines and row orders; the sample-variance and
  Pearson formulas then run on those exact inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.concurrent import overlap
from ..functions.parity import (
    fixed_sum,
    fixed_sum_raw,
    fixed_sum_units_raw,
    fixed_units,
    quantile_interp,
    round_dp,
    sorted_vals,
    sql_round_dp,
    sql_stable_sum,
    sql_stable_sum_raw,
)
from ..operators.keys import with_global_row_number
from ..operators.quantiles import exact_quantile_edges
from ..operators.skew import salted_join
from ..sources.tables import load_tables
from .relational import _SQL_REVENUE, DP_REVENUE

N_DECILES = 10


def customer_revenue_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-decile revenue profile over customers, revenue-descending.
    Decile 0 = top spenders. Exact (rank-based), not approximate."""
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    rev = orders.groupBy("o_custkey").agg(
        fixed_sum_raw("o_totalprice", 2).alias("revenue")
    )
    # descending rank via ascending key on the negated (exact) double
    numbered = with_global_row_number(
        rev.withColumn("neg_revenue", -F.col("revenue")),
        ["neg_revenue", "o_custkey"],
        "rn",
    )
    total = rev.agg(F.count("*").alias("__n"))
    return (
        numbered.crossJoin(F.broadcast(total))
        .withColumn(
            "decile",
            F.floor((F.col("rn") - 1) * N_DECILES / F.col("__n")).cast("int"),
        )
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_customers"),
            # per-customer revenue is an exact 2-decimal double (a sum
            # of 2-decimal prices), so the fast path stays exact here too
            fixed_sum("revenue", 2).alias("total_revenue"),
            F.min("revenue").alias("min_revenue"),
            F.max("revenue").alias("max_revenue"),
        )
    )


CUSTOMER_REVENUE_DECILES_ORACLE = f"""
WITH rev AS (
  SELECT o_custkey, {sql_stable_sum_raw('o_totalprice')} AS revenue
  FROM orders GROUP BY 1
),
numbered AS (
  SELECT revenue,
         row_number() OVER (ORDER BY revenue DESC, o_custkey) AS rn,
         count(*) OVER () AS n
  FROM rev
)
SELECT CAST(floor((rn - 1) * {N_DECILES} / n) AS INTEGER) AS decile,
       count(*) AS n_customers,
       {sql_stable_sum('revenue')} AS total_revenue,
       min(revenue) AS min_revenue,
       max(revenue) AS max_revenue
FROM numbered GROUP BY 1
"""


def order_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three aggregation levels in one hash aggregation: (returnflag,
    linestatus), (returnflag), and the grand total, with ``grouping()``
    flags distinguishing a NULL group key from a rolled-up one."""
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
            F.count("*").alias("n_items"),
            fixed_sum("l_extendedprice", 2).alias("total_price"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            "g_flag",
            "g_status",
            "n_items",
            "total_price",
        )
    )


ORDER_GROUPING_SETS_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
       CAST(grouping(l_returnflag) AS INTEGER) AS g_flag,
       CAST(grouping(l_linestatus) AS INTEGER) AS g_status,
       count(*) AS n_items,
       {sql_stable_sum('l_extendedprice')} AS total_price
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


def lineitem_stats_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """describe()-grade moment statistics in ONE scan: count, mean,
    sample stddev of quantity, and the quantity-price Pearson
    correlation. Raw moments are exact fixed-point sums (the limb fast
    path — see functions.parity): quantity and price are exact 2-decimal
    values, so their unit products are exact 4-decimal longs, and the
    sums match the DECIMAL oracle bit-for-bit without any per-row
    BigDecimal work. The closed-form variance/correlation arithmetic
    then runs on the resulting (identical) doubles in a fixed expression
    order on both engines."""
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    ux = fixed_units("l_quantity", 2)
    uy = fixed_units("l_extendedprice", 2)
    m = li.select(
        ux.alias("ux"), uy.alias("uy")
    ).agg(
        F.count("*").alias("n"),
        fixed_sum_units_raw("ux", 2).alias("sx"),
        fixed_sum_units_raw("uy", 2).alias("sy"),
        fixed_sum_units_raw("ux * ux", 4).alias("sxx"),
        fixed_sum_units_raw("uy * uy", 4).alias("syy"),
        fixed_sum_units_raw("ux * uy", 4).alias("sxy"),
    )
    n = F.col("n")
    var = (F.col("sxx") - F.col("sx") * F.col("sx") / n) / (n - 1)
    corr_num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    corr_den = F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m.select(
        "n",
        round_dp(F.col("sx") / n).alias("mean_qty"),
        round_dp(F.sqrt(var)).alias("stddev_qty"),
        round_dp(corr_num / corr_den, 6).alias("corr_qty_price"),
    )


LINEITEM_STATS_PROFILE_ORACLE = f"""
WITH m AS (
  SELECT count(*) AS n,
         CAST(sum(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS sx,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) AS sy,
         CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(38,6)))
              AS DOUBLE) AS sxx,
         CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,6)))
              AS DOUBLE) AS syy,
         CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6)))
              AS DOUBLE) AS sxy
  FROM lineitem
)
SELECT n,
       {sql_round_dp("sx / n")} AS mean_qty,
       {sql_round_dp("sqrt((sxx - sx * sx / n) / (n - 1))")} AS stddev_qty,
       {sql_round_dp("(n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))", 6)}
         AS corr_qty_price
FROM m
"""


SKEW_TOP = 10
# hot-key discovery sample rate for the salted-join demo (discovery
# steers performance only — see salted_hot_key_join)
SKEW_SAMPLE_FRACTION = 0.125


def join_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-planning diagnostics for the engine's hottest join key
    (lineitem.l_orderkey): the top heavy-hitter keys plus, on every row,
    the global statistics a planner needs to pick a strategy — distinct
    key count, mean rows/key, and the max/mean skew factor. A skew factor
    near 1 means hash partitioning balances; >> 1 says salt the listed
    keys (``operators/skew.py``) or lean on AQE skew-join splitting.

    One pass: hash-agg per key, then a single-row global roll-up joined
    back by broadcast. Top-N via TakeOrdered — no global sort.
    """
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    per_key = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_rows"))
    glob = per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n_rows").alias("n_total"),
        F.max("n_rows").alias("max_rows"),
    ).select(
        "n_keys",
        (F.col("n_total").cast("double") / F.col("n_keys")).alias("mean_rows"),
        (
            F.col("max_rows")
            / (F.col("n_total").cast("double") / F.col("n_keys"))
        ).alias("skew_factor"),
    )
    return (
        per_key.orderBy(F.col("n_rows").desc(), "l_orderkey")
        .limit(SKEW_TOP)
        .crossJoin(F.broadcast(glob))
        .select(
            "l_orderkey",
            "n_rows",
            "n_keys",
            round_dp(F.col("mean_rows"), 6).alias("mean_rows"),
            round_dp(F.col("skew_factor"), 6).alias("skew_factor"),
        )
    )


JOIN_KEY_SKEW_ORACLE = f"""
WITH per_key AS (
  SELECT l_orderkey, count(*) AS n_rows FROM lineitem GROUP BY 1
),
gstats AS (
  SELECT count(*) AS n_keys,
         CAST(sum(n_rows) AS DOUBLE) / count(*) AS mean_rows,
         max(n_rows) / (CAST(sum(n_rows) AS DOUBLE) / count(*)) AS skew_factor
  FROM per_key
)
SELECT l_orderkey, n_rows, n_keys,
       {sql_round_dp("mean_rows", 6)} AS mean_rows,
       {sql_round_dp("skew_factor", 6)} AS skew_factor
FROM (SELECT * FROM per_key ORDER BY n_rows DESC, l_orderkey LIMIT {SKEW_TOP})
CROSS JOIN gstats
"""


N_SALTS = 8


def salted_hot_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated fact-dim join: the remediation that
    ``join_key_skew_report`` prescribes, applied end-to-end.

    Finds the ``SKEW_TOP`` hottest ``l_orderkey`` values (the same keys
    the skew report surfaces), salts the lineitem probe side across
    ``N_SALTS`` buckets, and replicates ONLY the matching orders rows
    (``operators/skew.py``) — so the hot key's rows land on ``N_SALTS``
    reducers instead of one, while the build side grows by at most
    ``SKEW_TOP x N_SALTS`` rows. Driver traffic is the hot-key list only
    (``SKEW_TOP`` longs, constant-size at any scale factor).

    Salting is semantics-preserving for an inner equi-join, so the
    oracle runs the PLAIN join — a value mismatch here means the salting
    rewrite broke join semantics.
    """
    t = load_tables(spark, sf_dir, "orders", "lineitem")
    li = t["lineitem"].select("l_orderkey", "l_extendedprice", "l_discount")
    ords = t["orders"].select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    # Hot-key discovery runs on a SAMPLE (seeded, deterministic): skew
    # statistics are what planners estimate from samples at scale — a
    # genuinely hot key has so many rows that any fixed-rate sample
    # surfaces it, and the hot SET only steers load balancing, never
    # results (salting is semantics-preserving for ANY hot list,
    # including an empty one: ``isin([])`` salts nothing and the join
    # degrades to the plain equi-join the oracle runs).
    hot = [
        r["l_orderkey"]
        for r in li.sample(False, SKEW_SAMPLE_FRACTION, seed=42)
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy(F.col("n_rows").desc(), "l_orderkey")
        .limit(SKEW_TOP)
        .collect()
    ]
    joined = salted_join(li, ords, "l_orderkey", hot, n_salts=N_SALTS)
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        fixed_sum(_SQL_REVENUE, DP_REVENUE).alias("revenue"),
    )


SALTED_HOT_KEY_JOIN_ORACLE = f"""
SELECT o_orderpriority,
       count(*) AS n_items,
       {sql_stable_sum("l_extendedprice * (1 - l_discount)")} AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Sketch-based profiling: HLL++ distinct counts and GK quantile sketches.
#
# At 100 TB an exact COUNT(DISTINCT) is a full shuffle of every distinct
# key and an exact percentile is a full sort; the sketch versions are
# constant-memory mergeable state per group (HLL++ registers / GK
# summaries), which is the only way these profiles run on the full
# corpus. The sketches are approximate, so the driver-checkable contract
# is the ERROR BOUND, not the estimate: each query emits the exact value
# plus a boolean asserting the sketch landed within its documented bound,
# and the oracle asserts the same exact value with the boolean TRUE. A
# sketch drifting outside its bound flips the boolean and fails the
# value-hash — the bound itself is what parity verifies.
# ---------------------------------------------------------------------------

HLL_RSD = 0.02  # HLL++ relative standard deviation (~2^12 registers)
HLL_BOUND = 0.05  # verified bound: 2.5 sigma; measured max 0.85% on corpus
QSKETCH_ACCURACY = 1000  # GK rank error 1/1000
QSKETCH_BOUND = 0.01  # value-error bound; measured max 0.27% on corpus


def orders_approx_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer reach per order priority via HyperLogLog++: exact
    ``count_distinct`` beside ``approx_count_distinct(rsd=HLL_RSD)``, and
    the sketch is verified to land within ``HLL_BOUND`` of exact.

    Plan shape: dedup THEN aggregate, not one mixed aggregation. Mixing
    a distinct agg with a non-distinct agg makes Catalyst Expand every
    row and carry the partial HLL buffer per (priority, custkey) group —
    one multi-KB register array per DISTINCT KEY in the partial hash
    aggregate (measured 3x slower here, and an OOM shape at corpus
    key counts). HLL is duplicate-insensitive, so sketching the
    deduplicated pairs gives the identical estimate while both final
    aggregates run plain (5 groups); at scale the exact column is
    dropped and the dedup shuffle with it — the sketch alone needs no
    distinct at all."""
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    pairs = orders.select("o_orderpriority", "o_custkey").distinct()
    # count the KEY column, not count(1): over the distinct pairs the two
    # differ only when a NULL key survives the dedup — count(o_custkey)
    # excludes it, matching both count(DISTINCT) oracle semantics and
    # approx_count_distinct (which also skips NULLs)
    agg = pairs.groupBy("o_orderpriority").agg(
        F.count("o_custkey").alias("exact_customers"),
        F.approx_count_distinct("o_custkey", HLL_RSD).alias("__approx"),
    )
    return agg.select(
        "o_orderpriority",
        "exact_customers",
        (
            F.abs(F.col("__approx") - F.col("exact_customers"))
            <= HLL_BOUND * F.col("exact_customers")
        ).alias("hll_within_bound"),
    )


ORDERS_APPROX_DISTINCT_ORACLE = """
SELECT o_orderpriority,
       count(DISTINCT o_custkey) AS exact_customers,
       TRUE AS hll_within_bound
FROM orders GROUP BY 1
"""


def lineitem_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price quantiles per return flag: exact interpolated ``percentile``
    beside the Greenwald-Khanna ``percentile_approx`` sketch
    (``QSKETCH_ACCURACY`` rank error), verified within ``QSKETCH_BOUND``
    relative value error. The exact columns are the oracle-compared
    values (same doubles as DuckDB ``quantile_cont``); the booleans gate
    the sketch. At scale only the sketch runs — GK summaries merge
    map-side, while exact percentiles would sort the corpus."""
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    ranks = F.array(F.lit(0.5), F.lit(0.95))
    # exact side: one sorted-array buffer per group serving both ranks
    # (parity.sorted_vals — measured ~4.5x faster than the
    # ImperativeAggregate ``percentile``); sketch side: one GK buffer
    # for both ranks (array form)
    agg = li.groupBy("l_returnflag").agg(
        sorted_vals(F.col("l_extendedprice")).alias("__v"),
        F.percentile_approx(
            "l_extendedprice", ranks, F.lit(QSKETCH_ACCURACY)
        ).alias("__a"),
    )
    agg = agg.select(
        "l_returnflag",
        quantile_interp(F.col("__v"), 0.5).alias("p50"),
        quantile_interp(F.col("__v"), 0.95).alias("p95"),
        F.col("__a")[0].alias("__a50"),
        F.col("__a")[1].alias("__a95"),
    )
    return agg.select(
        "l_returnflag",
        "p50",
        "p95",
        (F.abs(F.col("__a50") - F.col("p50")) <= QSKETCH_BOUND * F.col("p50")).alias(
            "p50_sketch_ok"
        ),
        (F.abs(F.col("__a95") - F.col("p95")) <= QSKETCH_BOUND * F.col("p95")).alias(
            "p95_sketch_ok"
        ),
    )


LINEITEM_QUANTILE_SKETCH_ORACLE = """
SELECT l_returnflag,
       quantile_cont(l_extendedprice, 0.5) AS p50,
       quantile_cont(l_extendedprice, 0.95) AS p95,
       TRUE AS p50_sketch_ok,
       TRUE AS p95_sketch_ok
FROM lineitem GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Mergeable sketch state (Apache DataSketches, built into Spark SQL):
# ``approx_count_distinct`` / ``percentile_approx`` above are one-shot —
# the sketch lives only inside a single aggregation. The HLL / KLL /
# theta sketch functions instead expose the sketch itself as a BINARY
# column: per-group sketches can be stored, shipped, and RE-AGGREGATED
# (union / merge) without touching the raw data again. That is the
# at-scale profiling pattern (Druid / BigQuery-style rollup cubes):
# compute per-(day, source) sketches once over 100 TB, then answer any
# coarser grouping — per-source, per-day, global — by merging
# constant-size sketch state. The queries below demonstrate exactly
# that: the coarse row is derived from the fine-grained sketches, never
# from a second scan; the exact twins (which DO rescan) gate the values.
# ---------------------------------------------------------------------------

HLL_LG_K = 14  # 2^14 registers -> ~0.8% rsd
SKETCH_USERS_BOUND = 0.02  # measured max 0.0% on corpus at both SFs
KLL_K = 800  # ~1.3% rank error at 99% confidence
# KLL's guarantee is on RANK, not value (a sketch quantile is a retained
# sample — for a sparse group the nearest sample can sit a large VALUE
# step away while being rank-adjacent). The boolean therefore checks the
# rank contract through its value-envelope form: the exact p-quantile
# must lie between the sketch's (p-eps) and (p+eps) quantiles, with
# eps = sketch rank error (~1.3% at k=800) + one-sample discretization.
# (The direct rank lookup kll_sketch_get_rank_* needs a FOLDABLE value,
# so it cannot test a per-group exact quantile; the envelope is the
# same guarantee via two foldable-rank lookups.)
KLL_RANK_BOUND = 0.025


def _kll_rank_envelope_ok(sketch_col: str, exact_col: str, p: float) -> F.Column:
    """True iff the exact p-quantile lies inside the sketch's
    [p-eps, p+eps] quantile value envelope — the KLL rank guarantee."""
    lo = max(p - KLL_RANK_BOUND, 0.0)
    hi = min(p + KLL_RANK_BOUND, 1.0)
    return (
        F.col(exact_col)
        >= F.kll_sketch_get_quantile_double(sketch_col, F.lit(lo))
    ) & (
        F.col(exact_col)
        <= F.kll_sketch_get_quantile_double(sketch_col, F.lit(hi))
    )


def events_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch rollup cube over events: per event_type, distinct users via
    an HLL sketch and value quantiles via a KLL sketch — then one 'ALL'
    row computed ONLY from the per-type sketches (``hll_union_agg`` /
    ``kll_merge_agg_double``), the mergeable-state reaggregation that
    replaces a second corpus scan at 100 TB. Estimates are checked
    against exact twins within documented bounds; the driver-compared
    values are the exact ones plus the bound booleans (the sketch
    contract, same as ``orders_approx_distinct_sketch``)."""
    ev = load_tables(spark, sf_dir, "events")["events"]
    # distinct-user metrics from DEDUPED pairs, value metrics from raw
    # rows, joined per type (5 rows, broadcast) — mixing the distinct agg
    # into the sketch aggregation would Expand every row and carry a
    # partial sketch buffer per (type, user) group (see
    # orders_approx_distinct_sketch); HLL is duplicate-insensitive, so
    # the deduped build yields the identical sketch.
    pairs = ev.select("event_type", "user_id").distinct()
    # count the KEY column (NULL-excluding, like count(DISTINCT) and like
    # hll_sketch_agg itself), not count(1) over the deduped pairs
    users = pairs.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", HLL_LG_K).alias("__hsk"),
        F.count("user_id").alias("exact_users"),
    )
    values = ev.groupBy("event_type").agg(
        F.kll_sketch_agg_double("value", KLL_K).alias("__ksk"),
        sorted_vals(F.col("value")).alias("__v"),
    ).select(
        "event_type",
        "__ksk",
        quantile_interp(F.col("__v"), 0.5).alias("p50"),
        quantile_interp(F.col("__v"), 0.95).alias("p95"),
    )
    per = values.join(users, "event_type")
    def _checked(df: DataFrame) -> DataFrame:
        return df.select(
            "event_type",
            "exact_users",
            "p50",
            "p95",
            (
                F.abs(F.hll_sketch_estimate("__hsk") - F.col("exact_users"))
                <= SKETCH_USERS_BOUND * F.col("exact_users")
            ).alias("users_ok"),
            _kll_rank_envelope_ok("__ksk", "p50", 0.5).alias("p50_ok"),
            _kll_rank_envelope_ok("__ksk", "p95", 0.95).alias("p95_ok"),
        )
    # coarse row: sketches merged from the per-type rows (no rescan of
    # events for the estimate side); exact twin rescans, as an oracle must
    merged = per.agg(
        F.hll_union_agg("__hsk", F.lit(True)).alias("__hsk"),
        F.kll_merge_agg_double("__ksk").alias("__ksk"),
    )
    all_exact = (
        pairs.select("user_id")
        .distinct()
        .agg(F.count("user_id").alias("exact_users"))
        .crossJoin(
            ev.agg(sorted_vals(F.col("value")).alias("__v")).select(
                quantile_interp(F.col("__v"), 0.5).alias("p50"),
                quantile_interp(F.col("__v"), 0.95).alias("p95"),
            )
        )
    )
    all_row = merged.crossJoin(all_exact).withColumn(
        "event_type", F.lit("ALL")
    )
    return _checked(per).unionByName(_checked(all_row))


EVENTS_SKETCH_ROLLUP_ORACLE = """
SELECT event_type,
       count(DISTINCT user_id) AS exact_users,
       quantile_cont(value, 0.5) AS p50,
       quantile_cont(value, 0.95) AS p95,
       TRUE AS users_ok, TRUE AS p50_ok, TRUE AS p95_ok
FROM events GROUP BY 1
UNION ALL
SELECT 'ALL',
       count(DISTINCT user_id),
       quantile_cont(value, 0.5),
       quantile_cont(value, 0.95),
       TRUE, TRUE, TRUE
FROM events
"""


THETA_VALUE_CUT = 300.0
THETA_BOUND = 0.02  # theta default nominal entries 4096 -> exact below it


def events_user_overlap_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set algebra on user populations via theta sketches: A = users with
    a high-value purchase, B = users with a high-value click. Theta
    sketches support intersection / difference (HLL cannot), so
    |A|, |B|, |A∩B|, |A∪B|, |A\\B| all come from ONE pass building two
    sketches plus constant-size sketch algebra — at 100 TB the exact
    per-user flag rollup (the twin below) is a full user-cardinality
    shuffle, while the sketches move kilobytes. Exact counts are the
    driver-compared values; the booleans assert every estimate lands
    within ``THETA_BOUND``."""
    ev = load_tables(spark, sf_dir, "events")["events"]
    in_a = (F.col("event_type") == "purchase") & (
        F.col("value") > THETA_VALUE_CUT
    )
    in_b = (F.col("event_type") == "click") & (F.col("value") > THETA_VALUE_CUT)
    sk = ev.agg(
        F.expr(
            f"theta_sketch_agg(CASE WHEN event_type = 'purchase' AND value > {THETA_VALUE_CUT} THEN user_id END)"
        ).alias("__ska"),
        F.expr(
            f"theta_sketch_agg(CASE WHEN event_type = 'click' AND value > {THETA_VALUE_CUT} THEN user_id END)"
        ).alias("__skb"),
    )
    est = sk.select(
        F.expr("theta_sketch_estimate(__ska)").alias("__ea"),
        F.expr("theta_sketch_estimate(__skb)").alias("__eb"),
        F.expr(
            "theta_sketch_estimate(theta_intersection(__ska, __skb))"
        ).alias("__eab"),
        F.expr("theta_sketch_estimate(theta_union(__ska, __skb))").alias(
            "__eu"
        ),
        F.expr(
            "theta_sketch_estimate(theta_difference(__ska, __skb))"
        ).alias("__ead"),
    )
    exact = (
        ev.groupBy("user_id")
        .agg(F.max(in_a).alias("__a"), F.max(in_b).alias("__b"))
        .agg(
            F.sum(F.col("__a").cast("long")).alias("purchase_users"),
            F.sum(F.col("__b").cast("long")).alias("click_users"),
            F.sum((F.col("__a") & F.col("__b")).cast("long")).alias(
                "both_users"
            ),
            F.sum((F.col("__a") | F.col("__b")).cast("long")).alias(
                "either_users"
            ),
            F.sum((F.col("__a") & ~F.col("__b")).cast("long")).alias(
                "purchase_only_users"
            ),
        )
    )

    def _ok(est_col: str, exact_col: str) -> F.Column:
        return F.abs(F.col(est_col) - F.col(exact_col)) <= F.greatest(
            THETA_BOUND * F.col(exact_col), F.lit(1.0)
        )

    return est.crossJoin(exact).select(
        "purchase_users",
        "click_users",
        "both_users",
        "either_users",
        "purchase_only_users",
        _ok("__ea", "purchase_users").alias("a_ok"),
        _ok("__eb", "click_users").alias("b_ok"),
        _ok("__eab", "both_users").alias("intersect_ok"),
        _ok("__eu", "either_users").alias("union_ok"),
        _ok("__ead", "purchase_only_users").alias("difference_ok"),
    )


EVENTS_USER_OVERLAP_THETA_ORACLE = f"""
WITH flags AS (
  SELECT user_id,
         bool_or(event_type = 'purchase' AND value > {THETA_VALUE_CUT}) AS a,
         bool_or(event_type = 'click' AND value > {THETA_VALUE_CUT}) AS b
  FROM events GROUP BY 1
)
SELECT count(*) FILTER (WHERE a) AS purchase_users,
       count(*) FILTER (WHERE b) AS click_users,
       count(*) FILTER (WHERE a AND b) AS both_users,
       count(*) FILTER (WHERE a OR b) AS either_users,
       count(*) FILTER (WHERE a AND NOT b) AS purchase_only_users,
       TRUE AS a_ok, TRUE AS b_ok, TRUE AS intersect_ok,
       TRUE AS union_ok, TRUE AS difference_ok
FROM flags
"""


# ---------------------------------------------------------------------------
# Persisted sketch cube: ``events_sketch_rollup`` merges per-group sketches
# in memory within one query; the production pattern persists the fine-grain
# sketch rows as a warehouse table and answers EVERY coarser rollup later by
# merging the STORED sketches — no rescan of the fact, across a persistence
# boundary. At 100 TB the base build is the only full scan (one pass,
# constant-size state per (day, type) cell, partitioned by day so an
# incremental refresh overwrites one day's partition); each rollup then
# reads kilobytes of sketch bytes. The exact twins below rescan events per
# grain — oracle scaffolding only (same bench-scale-only contract as
# ``events_sketch_rollup``'s twins, see ``sorted_vals``' domain note).
# ---------------------------------------------------------------------------


def _sketch_cube_rollups(spark: SparkSession, sf_dir: str, db: str) -> DataFrame:
    from ..sources import writers as W

    ev = load_tables(spark, sf_dir, "events")["events"]
    day = F.to_date(F.date_trunc("day", "ts")).alias("event_day")
    # base: ONE scan of the fact -> per-(day, type) mergeable sketch rows,
    # written partitioned by day (incremental-refresh unit)
    base = ev.groupBy(day, "event_type").agg(
        F.hll_sketch_agg("user_id", HLL_LG_K).alias("users_hll"),
        F.kll_sketch_agg_double("value", KLL_K).alias("value_kll"),
    )
    # cluster the tiny cell rows by the partition column before the
    # dynamic-partition write: one file per day directory instead of
    # (shuffle-partitions x days) slivers
    W.write_table(
        base.repartition("event_day"),
        "events_sketch_cells",
        database=db,
        partition_by=("event_day",),
    )
    stored = W.read_table(spark, "events_sketch_cells", db)

    def _merged(grouped):
        return grouped.agg(
            F.hll_union_agg("users_hll", F.lit(True)).alias("__hsk"),
            F.kll_merge_agg_double("value_kll").alias("__ksk"),
        )

    ev = ev.select(day, "event_type", "user_id", "value")

    # exact twins per grain (rescan — verification scaffolding, not the
    # at-scale path; at 100 TB only the stored-sketch merges run)
    def _exact(keys: list[str]):
        grp = lambda df: df.groupBy(*keys) if keys else df.groupBy()
        users = grp(ev.select(*keys, "user_id").distinct()).agg(
            F.count("user_id").alias("exact_users")
        )
        vals = grp(ev).agg(sorted_vals(F.col("value")).alias("__v")).select(
            *keys, quantile_interp(F.col("__v"), 0.5).alias("p50")
        )
        return users.join(vals, keys) if keys else users.crossJoin(vals)

    def _checked(df: DataFrame, grain: F.Column) -> DataFrame:
        return df.select(
            grain.alias("grain"),
            "exact_users",
            "p50",
            (
                F.abs(F.hll_sketch_estimate("__hsk") - F.col("exact_users"))
                <= SKETCH_USERS_BOUND * F.col("exact_users")
            ).alias("users_ok"),
            _kll_rank_envelope_ok("__ksk", "p50", 0.5).alias("p50_ok"),
        )

    # one checkpointed branch per grain, overlapped: a single fused
    # union plan spent ~0.8 s planning on one thread before any task ran
    def per_type() -> DataFrame:
        return _checked(
            _merged(stored.groupBy("event_type")).join(
                _exact(["event_type"]), "event_type"
            ),
            F.concat(F.lit("type:"), F.col("event_type")),
        ).localCheckpoint(eager=True)

    def per_day() -> DataFrame:
        return _checked(
            _merged(stored.groupBy("event_day")).join(
                _exact(["event_day"]), "event_day"
            ),
            F.concat(F.lit("day:"), F.col("event_day").cast("string")),
        ).localCheckpoint(eager=True)

    def overall() -> DataFrame:
        return _checked(
            _merged(stored.groupBy()).crossJoin(_exact([])), F.lit("ALL")
        ).localCheckpoint(eager=True)

    t, d, a = overlap(spark, per_type, per_day, overall)
    return t.unionByName(d).unionByName(a)


def events_sketch_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch cube across a persistence boundary: per-(day, event_type)
    HLL user sketches + KLL value sketches are WRITTEN to a day-partitioned
    warehouse table, then the per-type, per-day, and global rollups are
    answered by merging the stored sketch bytes — zero fact rescans on the
    estimate side. Driver-compared values are the exact twins plus bound
    booleans (the sketch contract of ``orders_approx_distinct_sketch``).
    Wrapper uses a per-invocation namespace (materialize, drop), like
    ``dpp_dim_filtered_sales``."""
    import uuid

    db = f"sketch_cube_{uuid.uuid4().hex[:12]}"
    try:
        out = _sketch_cube_rollups(spark, sf_dir, db).localCheckpoint(eager=True)
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    return out


EVENTS_SKETCH_CUBE_ORACLE = """
SELECT 'type:' || event_type AS grain,
       count(DISTINCT user_id) AS exact_users,
       quantile_cont(value, 0.5) AS p50,
       TRUE AS users_ok, TRUE AS p50_ok
FROM events GROUP BY event_type
UNION ALL
SELECT 'day:' || CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR),
       count(DISTINCT user_id),
       quantile_cont(value, 0.5),
       TRUE, TRUE
FROM events GROUP BY CAST(date_trunc('day', ts) AS DATE)
UNION ALL
SELECT 'ALL', count(DISTINCT user_id), quantile_cont(value, 0.5), TRUE, TRUE
FROM events
"""


HH_TOPN = 5
HH_K = 64  # sketch report size: wide margin over count ties at the cut
HH_MAX_ITEMS = 1024  # tracked-items budget; count error <= ~3.5 * n / M


def events_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-items sketch (DataSketches ``approx_top_k``) beside the
    exact per-type top-``HH_TOPN`` heavy users: the driver-compared
    values are the exact top rows (count desc, user_id tie-break); the
    boolean asserts each one appears in the sketch's top-``HH_K`` report
    with its count inside the frequent-items guarantee (~3.5n/M).

    Scale shape: the sketch is one pass with constant
    ``HH_MAX_ITEMS``-bounded state per group and merges across
    partitions map-side — at 100 TB it is the only side that runs; the
    exact twin (a per-type window over the (type, user) counts) is
    oracle scaffolding, and the production exact-verify path would rank
    only the sketch-proposed candidates instead of every user."""
    from pyspark.sql import Window

    ev = load_tables(spark, sf_dir, "events")["events"]
    counts = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("n_events").desc(), "user_id"
    )
    top = (
        counts.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= HH_TOPN)
    )
    sk = ev.groupBy("event_type").agg(
        F.expr(f"approx_top_k(user_id, {HH_K}, {HH_MAX_ITEMS})").alias("__hh"),
        F.count(F.lit(1)).alias("__n"),
    )
    est = sk.select(
        "event_type", "__n", F.explode("__hh").alias("__e")
    ).select(
        "event_type",
        F.col("__e.item").alias("user_id"),
        F.col("__e.count").alias("__est"),
        "__n",
    )
    bound = F.lit(3.5) * F.col("__n") / F.lit(HH_MAX_ITEMS)
    return top.join(est, ["event_type", "user_id"], "left").select(
        "event_type",
        "user_id",
        "n_events",
        "rank",
        (
            F.col("__est").isNotNull()
            & (F.abs(F.col("__est") - F.col("n_events")) <= bound)
        ).alias("hh_ok"),
    )


EVENTS_HEAVY_HITTERS_ORACLE = f"""
WITH c AS (
  SELECT event_type, user_id, count(*) AS n_events FROM events GROUP BY 1, 2
),
r AS (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY event_type ORDER BY n_events DESC, user_id) AS INTEGER)
    AS rank
  FROM c
)
SELECT event_type, user_id, n_events, rank, TRUE AS hh_ok
FROM r WHERE rank <= {HH_TOPN}
"""


# ---------------------------------------------------------------------------
# Rolling distinct users (windowed HLL-sketch merge — the rolling-MAU op)
# ---------------------------------------------------------------------------


def events_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users per day — the rolling-MAU shape that
    plain counts cannot deliver (distinct does not sum across days) and
    a per-window re-scan cannot afford at scale. The at-scale path:
    ONE pass builds a day-grain HLL sketch table, then a RANGE-framed
    window merges the trailing sketches (``hll_union_agg`` over the
    frame) — per day the merge touches 7 constant-size sketches, never
    the events. The calendar RANGE frame (not ROWS) keeps missing days
    from silently widening the window.

    The exact twin (calendar range join + count_distinct, a full rescan
    per window) is oracle scaffolding; the sketch estimate is gated by
    the ``SKETCH_USERS_BOUND`` boolean, same contract as the other
    sketch queries."""
    from pyspark.sql import Window

    # a NULL timestamp has no day: exclude it explicitly on BOTH engines
    # (unfiltered, the oracle's DISTINCT day emits a (NULL, 0) row the
    # NULL-rejecting range join here could never match)
    events = (
        load_tables(spark, sf_dir, "events")["events"]
        .where(F.col("ts").isNotNull())
    )
    day = F.col("ts").cast("date")
    daily = (
        events.select(day.alias("d"), "user_id")
        .groupBy("d")
        .agg(F.hll_sketch_agg("user_id", HLL_LG_K).alias("__sk"))
    )
    w = (
        Window.orderBy(F.datediff(F.col("d"), F.lit("1970-01-01").cast("date")))
        .rangeBetween(-6, 0)
    )
    est = daily.select(
        "d",
        F.hll_sketch_estimate(
            F.hll_union_agg(F.col("__sk"), F.lit(True)).over(w)
        ).alias("__est"),
    )
    ev = events.select(day.alias("ed"), "user_id")
    exact = (
        daily.select("d")
        .join(
            ev,
            (F.col("ed") >= F.date_sub(F.col("d"), 6))
            & (F.col("ed") <= F.col("d")),
        )
        .groupBy("d")
        .agg(F.count_distinct("user_id").alias("n_users_7d"))
    )
    return exact.join(est, "d").select(
        "d",
        "n_users_7d",
        (
            F.abs(F.col("__est") - F.col("n_users_7d"))
            <= SKETCH_USERS_BOUND * F.col("n_users_7d")
        ).alias("sketch_ok"),
    )


EVENTS_ROLLING_MAU_ORACLE = """
WITH days AS (
  SELECT DISTINCT CAST(ts AS DATE) AS d FROM events WHERE ts IS NOT NULL
)
SELECT d,
       (SELECT count(DISTINCT user_id) FROM events e
        WHERE CAST(e.ts AS DATE) BETWEEN d - 6 AND d) AS n_users_7d,
       TRUE AS sketch_ok
FROM days
"""


# ---------------------------------------------------------------------------
# Robust outlier detection (median / MAD)
# ---------------------------------------------------------------------------

# 3 sigma-equivalents: 1.4826 scales the MAD to the stddev of a normal
# distribution. The product is written as ONE literal so both engines
# parse the identical double (no cross-engine constant-folding question).
MAD_CUT = 4.4478


def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type robust outlier profile: median, MAD (median absolute
    deviation), and the count of values beyond ``MAD_CUT * MAD`` — the
    robust z-score screen (mean/stddev-based screens are themselves
    dragged by the outliers they hunt; median/MAD has a 50% breakdown
    point).

    Single-shuffle shape: ONE sorted-array buffer per group
    (``parity.sorted_vals``, bench-scale domain guard included) serves
    the median, the MAD (deviations are an array ``transform`` over the
    same buffer — no second scan), and the outlier count (an array
    ``aggregate`` over the buffer). The exact-median twin is oracle
    scaffolding per the parity.py domain contract; at 100 TB the median
    and MAD come from two KLL-sketch passes (see
    ``lineitem_quantile_sketch``) and the count from one filtered scan.
    """
    events = load_tables(spark, sf_dir, "events")["events"]
    agg = events.groupBy("event_type").agg(
        sorted_vals(F.col("value")).alias("__v"),
        F.count("value").alias("n_events"),
    )
    s1 = agg.select(
        "event_type", "n_events", "__v",
        quantile_interp(F.col("__v"), 0.5).alias("med"),
    )
    s2 = s1.select(
        "event_type", "n_events", "__v", "med",
        quantile_interp(
            F.sort_array(F.transform("__v", lambda x: F.abs(x - F.col("med")))),
            0.5,
        ).alias("mad"),
    )
    return s2.select(
        "event_type",
        "n_events",
        "med",
        "mad",
        F.aggregate(
            "__v",
            F.lit(0).cast("bigint"),
            lambda acc, x: acc
            + F.when(
                F.abs(x - F.col("med")) > F.lit(MAD_CUT) * F.col("mad"), F.lit(1)
            )
            .otherwise(F.lit(0))
            .cast("bigint"),
        ).alias("n_outliers"),
    )


EVENTS_MAD_ORACLE = f"""
WITH m AS (
  SELECT event_type,
         quantile_cont(value, 0.5) AS med,
         count(value) AS n_events
  FROM events GROUP BY 1
),
dv AS (
  SELECT e.event_type, quantile_cont(abs(e.value - m.med), 0.5) AS mad
  FROM events e JOIN m USING (event_type) GROUP BY e.event_type
),
o AS (
  SELECT e.event_type,
         CAST(sum(CASE WHEN abs(e.value - m.med) > {MAD_CUT} * dv.mad
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
  FROM events e
  JOIN m USING (event_type) JOIN dv USING (event_type)
  GROUP BY e.event_type
)
SELECT m.event_type, m.n_events, m.med, dv.mad, o.n_outliers
FROM m JOIN dv USING (event_type) JOIN o USING (event_type)
"""


# ---------------------------------------------------------------------------
# Equi-depth histogram (ANALYZE-style column statistics)
# ---------------------------------------------------------------------------

HIST_BUCKETS = 8


def lineitem_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column statistics for ``l_extendedprice``: an
    equi-depth histogram with HIST_BUCKETS buckets — interior edges from
    exact interpolated quantiles (order statistics via
    ``operators.quantiles.exact_quantile_edges``; bit-equal to DuckDB
    ``quantile_cont``, so the bucket-assignment comparisons are
    engine-exact), then per-bucket row count, exact NDV, and the
    observed [lo, hi] envelope. This is the stats artifact a cost-based
    optimizer consumes for selectivity estimates.

    Plan shape: the 7 edges land as broadcast LITERALS (<=14 rank rows
    leave the executors — the old ``sorted_vals`` form reduced the whole
    column into one array buffer, the 5.6x bench gap in r07); bucket
    counting is dedup-then-aggregate on (bucket, value) — NOT a mixed
    distinct+plain aggregation, which would Expand every row (the OOM
    shape measured in the sketch family). At 100 TB the exact-NDV column
    swaps for ``approx_count_distinct`` and the edges for KLL — the
    exact twins here are the oracle gate, same contract as the sketch
    queries."""
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    edges = exact_quantile_edges(
        li, "l_extendedprice", [i / HIST_BUCKETS for i in range(1, HIST_BUCKETS)]
    )
    x = li.select(F.col("l_extendedprice").alias("x"))
    bucket = sum(
        [F.when(F.col("x") > F.lit(e), 1).otherwise(0) for e in edges],
        F.lit(0),
    )
    per_val = x.groupBy(bucket.alias("bucket"), "x").agg(
        F.count(F.lit(1)).alias("__n")
    )
    return per_val.groupBy("bucket").agg(
        F.sum("__n").alias("n_rows"),
        F.count("x").alias("n_distinct"),
        F.min("x").alias("lo"),
        F.max("x").alias("hi"),
    )


def _sql_equidepth_oracle() -> str:
    edges = ", ".join(
        f"quantile_cont(l_extendedprice, {i / HIST_BUCKETS}) AS e{i}"
        for i in range(1, HIST_BUCKETS)
    )
    bucket = " + ".join(
        f"(CASE WHEN x > e{i} THEN 1 ELSE 0 END)"
        for i in range(1, HIST_BUCKETS)
    )
    return f"""
WITH __hedges AS (SELECT {edges} FROM lineitem),
__hx AS (SELECT l_extendedprice AS x FROM lineitem)
SELECT {bucket} AS bucket,
       count(*) AS n_rows,
       count(DISTINCT x) AS n_distinct,
       min(x) AS lo,
       max(x) AS hi
FROM __hx, __hedges
GROUP BY 1
"""


LINEITEM_EQUIDEPTH_ORACLE = _sql_equidepth_oracle()


QUERIES = {
    "events_rolling_distinct_users": events_rolling_distinct_users,
    "events_mad_outliers": events_mad_outliers,
    "customer_revenue_deciles": customer_revenue_deciles,
    "order_grouping_sets": order_grouping_sets,
    "lineitem_stats_profile": lineitem_stats_profile,
    "join_key_skew_report": join_key_skew_report,
    "salted_hot_key_join": salted_hot_key_join,
    "orders_approx_distinct_sketch": orders_approx_distinct_sketch,
    "lineitem_quantile_sketch": lineitem_quantile_sketch,
    "lineitem_equidepth_histogram": lineitem_equidepth_histogram,
    "events_sketch_rollup": events_sketch_rollup,
    "events_user_overlap_theta": events_user_overlap_theta,
    "events_sketch_cube": events_sketch_cube,
    "events_heavy_hitters": events_heavy_hitters,
}

ORACLES = {
    "events_rolling_distinct_users": EVENTS_ROLLING_MAU_ORACLE,
    "events_mad_outliers": EVENTS_MAD_ORACLE,
    "customer_revenue_deciles": CUSTOMER_REVENUE_DECILES_ORACLE,
    "order_grouping_sets": ORDER_GROUPING_SETS_ORACLE,
    "lineitem_stats_profile": LINEITEM_STATS_PROFILE_ORACLE,
    "join_key_skew_report": JOIN_KEY_SKEW_ORACLE,
    "salted_hot_key_join": SALTED_HOT_KEY_JOIN_ORACLE,
    "orders_approx_distinct_sketch": ORDERS_APPROX_DISTINCT_ORACLE,
    "lineitem_quantile_sketch": LINEITEM_QUANTILE_SKETCH_ORACLE,
    "lineitem_equidepth_histogram": LINEITEM_EQUIDEPTH_ORACLE,
    "events_sketch_rollup": EVENTS_SKETCH_ROLLUP_ORACLE,
    "events_user_overlap_theta": EVENTS_USER_OVERLAP_THETA_ORACLE,
    "events_sketch_cube": EVENTS_SKETCH_CUBE_ORACLE,
    "events_heavy_hitters": EVENTS_HEAVY_HITTERS_ORACLE,
}
