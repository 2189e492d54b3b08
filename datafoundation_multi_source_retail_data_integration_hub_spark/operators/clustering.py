"""Distributed k-means (Lloyd's algorithm) over an embedding column —
the trainer for IVF coarse quantizers and corpus partitioning/curation.

Spark shape per iteration (the production Lloyd's-on-Spark layout):

- centroids live on the DRIVER (k × dim doubles — scalar-sized) and enter
  the plan as a literal array, so cell assignment is a pure map-side
  expression (no join, no shuffle, whole-stage codegen);
- the update step is one partial-aggregated groupBy(cluster): the
  exchange carries k × dim decimal partial sums per map task, never the
  vectors. At 100 TB each iteration is exactly one scan + one tiny
  shuffle; sampling a mini-batch per iteration drops the scan cost too.

Cross-engine determinism (the DuckDB oracle hash-matches):

- seeds: the k vectors with the smallest md5-derived 60-bit hash of
  their id — a pure function of the data;
- distances: squared L2 via the left-fold ``zip_with``+``aggregate``
  float64 pattern (bit-exact vs DuckDB ``list_sum(list_transform)``);
- assignment ties: lexicographic ``array_min`` over (dist, cluster_id)
  structs — smallest distance, then smallest cluster id;
- means: per-dimension DECIMAL(27,6) sums (order-independent, exact)
  divided in float64 — identical operands → identical centroids.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.parity import DEC
from ..functions.text import md5_long

Centroids = list[tuple[int, list[float]]]

# Persisted intermediates go through the shared registry
# (operators/storage.py). Aliases kept for existing callers.
from . import storage  # noqa: E402
from .storage import persist_tracked as _persist  # noqa: E402
from .storage import unpersist_all  # noqa: E402,F401


def sq_dist_sql(a: str, b: str) -> str:
    """Squared L2 distance as SQL text: zip_with square-diffs folded by
    a strict float64 left fold from 0.0D — the single implementation of
    the module's distance semantics (every consumer parses this text,
    so there is exactly one tree to keep deterministic). SQL text
    because the equivalent Column/lambda form costs a py4j round trip
    per expression node on every DataFrame construction; one JVM parse
    yields the identical tree."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        f"0.0D, (acc, x) -> acc + x)"
    )


def double_array_sql(vals) -> str:
    """array<double> literal as SQL text. ``repr(float)`` is the shortest
    round-trip decimal, and Spark's ``<x>D`` literal parses it with the
    same IEEE-754 nearest-double rule Python prints it from, so the
    parsed value is bit-identical to ``F.lit(x)``."""
    return "array(" + ",".join(repr(float(x)) + "D" for x in vals) + ")"


def double_array_literal(vals) -> Column:
    """array<double> literal parsed JVM-side in ONE expression. Building
    it element-wise as ``F.array(*[F.lit(x) ...])`` costs a py4j round
    trip per element — measured 1.4 s of DRIVER time per DataFrame
    construction for the 8x256x4-element PQ codebooks (billed on every
    run, since queries are constructed fresh); the single parse is
    milliseconds for the identical literal tree."""
    return F.expr(double_array_sql(vals))


def centroid_literal_sql(centroids: Centroids) -> str:
    # the whole k x dim constant as SQL text (see double_array_literal);
    # cid stays BIGINT to match F.lit(int)
    parts = ",".join(
        f"named_struct('cid',{int(cid)}L,'cv',{double_array_sql(vec)})"
        for cid, vec in centroids
    )
    return f"array({parts})"


def prepare_vectors(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Cast the float vector column to double ONCE and persist the
    (id, ``__dvec``) working set. Every Lloyd's iteration, the final
    assignment, and the semantic-dedup pair scan re-read exactly this
    frame — without it each pass re-scans parquet and re-casts the
    vectors (measured ~2x on the kmeans family at sf0.1). This is the
    cache-the-working-set step a cluster run does too (iterative ML on
    a 100 TB corpus persists its feature frame or checkpoints it).
    Release with ``unpersist_all()``."""
    return _persist(double_vectors(df, vec_col, id_col))


def double_vectors(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """The (id, ``__dvec``) projection ``prepare_vectors`` persists."""
    return df.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__dvec"),
    )


def assign_clusters(
    df: DataFrame,
    centroids: Centroids,
    vec_col: str = "embedding",
    pre_cast: bool = False,
) -> DataFrame:
    """Append ``cluster_id`` (nearest centroid, squared-L2) and
    ``sq_dist`` — one map-side expression, no shuffle, no join.

    ``pre_cast``: ``vec_col`` already holds double arrays (e.g. a
    ``prepare_vectors`` frame) — skip the cast stage and keep the column.
    """
    if pre_cast:
        staged = df if vec_col == "__dvec" else df.withColumn(
            "__dvec", F.col(vec_col)
        )
        drop_cols = ["__best"] if vec_col == "__dvec" else ["__dvec", "__best"]
    else:
        # stage the double-cast vector: captured expressions inside the
        # transform lambda would re-evaluate per centroid
        staged = df.withColumn(
            "__dvec", F.transform(F.col(vec_col), lambda x: x.cast("double"))
        )
        drop_cols = ["__dvec", "__best"]
    # SQL text, ONE parse: the Column/lambda form of this expression
    # costs a py4j round trip per node (~0.1 s driver time per
    # construction), billed on every invocation since queries build
    # their DataFrames fresh; the parsed tree — and so every result
    # bit — is identical (same lesson as double_array_literal)
    best = F.expr(
        f"array_min(transform({centroid_literal_sql(centroids)}, "
        f"c -> named_struct('d', {sq_dist_sql('__dvec', 'c.cv')}, "
        f"'cid', c.cid)))"
    )
    return (
        staged.withColumn("__best", best)
        .withColumn("cluster_id", F.col("__best.cid"))
        .withColumn("sq_dist", F.col("__best.d"))
        .drop(*drop_cols)
    )


def seed_centroids(
    df: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    pre_cast: bool = False,
) -> Centroids:
    """Deterministic init: the k vectors with the smallest 60-bit
    md5-hash of their id, numbered 0..k-1 in hash order."""
    vec = (
        F.col(vec_col)
        if pre_cast
        else F.transform(F.col(vec_col), lambda x: x.cast("double"))
    )
    rows = (
        df.select(
            F.col(id_col).alias("__id"),
            md5_long(F.col(id_col).cast("string")).alias("__h"),
            vec.alias("__v"),
        )
        .orderBy("__h", "__id")
        .limit(k)
        .collect()
    )
    return [(i, list(r["__v"])) for i, r in enumerate(rows)]


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
    pre_cast: bool = False,
    cache_key: tuple | None = None,
    train_mod: int | None = None,
) -> Centroids:
    """Run ``n_iter`` Lloyd's updates from the deterministic seeds and
    return the fitted centroids. Empty clusters drop out (their id simply
    stops appearing), matching the unrolled SQL oracle.

    The double-cast working set is built (and persisted) once via
    ``prepare_vectors`` — each iteration is then one in-memory scan +
    one k x dim shuffle. Pass ``pre_cast=True`` with an existing
    ``prepare_vectors`` frame to share it with downstream assignment.

    ``cache_key``: a tuple naming the input corpus (e.g. the sf_dir) —
    when given, the fitted centroids are a ``SESSION`` entry of the
    storage registry, so the whole vector query family (kmeans census,
    SemDeDup, PQ codebooks) shares one training run per session. A fit is
    deterministic (module doc above), so a hit is bit-identical.

    ``train_mod``: sampled Lloyd's — seeds and update iterations run on
    the deterministic subset ``md5_long(id) % train_mod == 0`` (~1/mod
    of the corpus) instead of every vector; the caller still assigns the
    FULL corpus with the returned centroids. This is the standard
    training regime at corpus scale (SemDeDup itself clusters on a
    subset): centroid quality needs a representative sample, not every
    row, and the hash predicate is a pure function of the data, so the
    whole pipeline stays engine-reproducible (the SQL oracles apply the
    identical predicate). ``None`` = train on everything.
    """
    if cache_key is not None:
        # every parameter that changes the fit belongs in the key —
        # omitting vec_col/id_col/dim would hand one column's centroids
        # to a fit on a different column of the same corpus
        key = ("fit", cache_key, k, n_iter, train_mod, vec_col, id_col, dim)
        return storage.memo(
            df.sparkSession,
            storage.SESSION,
            key,
            lambda: kmeans_fit(
                df,
                k=k,
                n_iter=n_iter,
                vec_col=vec_col,
                id_col=id_col,
                dim=dim,
                pre_cast=pre_cast,
                train_mod=train_mod,
            ),
        )
    prep = df if pre_cast else prepare_vectors(df, vec_col, id_col)
    vcol = vec_col if pre_cast else "__dvec"
    if dim is None:
        dim = prep.select(F.size(F.col(vcol))).limit(1).collect()[0][0]
    train = prep
    if train_mod is not None:
        train = prep.filter(
            md5_long(F.col(id_col).cast("string")) % train_mod == 0
        )
    centroids = seed_centroids(train, k, vcol, id_col, pre_cast=True)
    for _ in range(n_iter):
        assigned = assign_clusters(train, centroids, vcol, pre_cast=True)
        # NARROW mean aggregation: posexplode to (cluster, pos, val) and
        # hash-agg k x dim decimal sums. Numerically identical to a wide
        # 64-column aggregate (decimal addition is exact and associative;
        # float(Decimal) and Spark's decimal->double cast are both
        # correctly rounded, so the per-dimension mean is the same
        # double) but 3x faster at bench scale: dim simple aggregates
        # compile and schedule far better than dim wide expression
        # columns. Shuffle volume is unchanged (partitions x k x dim
        # partial sums either way); driver traffic is k x dim rows.
        rows = (
            assigned.select(
                "cluster_id", F.posexplode(F.col(vcol)).alias("pos", "val")
            )
            .groupBy("cluster_id", "pos")
            .agg(
                F.sum(F.col("val").cast(DEC)).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        by: dict[int, list] = {}
        for r in rows:
            by.setdefault(int(r["cluster_id"]), [None] * dim)[int(r["pos"])] = (
                float(r["s"]) / r["n"]
            )
        centroids = sorted((cid, vals) for cid, vals in by.items())
    return centroids


def semantic_dedup(
    df: DataFrame,
    centroids: Centroids,
    tau: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    pre_cast: bool = False,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus with a trained k-means
    quantizer, then drop any vector that has a same-cluster neighbor
    with a SMALLER id and cosine >= ``tau`` — "keep the lowest id per
    semantic neighborhood". Output: (``id_col``, cluster_id, is_kept).

    Scale shape: the quadratic pair work is confined WITHIN clusters —
    one shuffle on cluster_id, then a partition-local self-join. With k
    grown proportionally to corpus size (SemDeDup uses ~n/1000 clusters)
    per-cluster membership stays bounded, so the join never approaches
    all-pairs. Assignment itself is a map-side expression (centroids are
    a driver-held literal — no join, no shuffle). A pathologically hot
    cluster is the skew risk; AQE skew-join splitting handles moderate
    skew, and re-bisecting oversized cells is the structural fix.

    The assigned frame (id, cluster_id, double-cast vector, norm) feeds
    both join sides and the final flag projection, so it is persisted —
    the corpus is scanned and assigned once, not three times (verified:
    the unpersisted plan shows three parquet scans, no exchange reuse).
    The NORM is precomputed per vector: a pair's cosine is
    ``dot/(n1*n2)`` with the same IEEE operands as the inline form, but
    the two norm folds run once per vector instead of once per pair —
    the pair scan does one fold instead of three (the quadratic term).
    Release with ``unpersist_all()`` after the consuming action.
    """
    from .similarity import norm, sql_dot

    prep = df if pre_cast else prepare_vectors(df, vec_col, id_col)
    vcol = vec_col if pre_cast else "__dvec"
    assigned = _persist(
        assign_clusters(prep, centroids, vcol, pre_cast=True).select(
            F.col(id_col),
            "cluster_id",
            F.col(vcol).alias("__v"),
            norm(f"`{vcol}`").alias("__n"),
        )
    )
    x = assigned.select(
        F.col(id_col), "cluster_id", F.col("__v").alias("__v1"),
        F.col("__n").alias("__n1"),
    )
    y = assigned.select(
        F.col(id_col).alias("__nb"), "cluster_id", F.col("__v").alias("__v2"),
        F.col("__n").alias("__n2"),
    )
    dropped = (
        x.join(y, "cluster_id")
        .filter(F.col("__nb") < F.col(id_col))
        .filter(
            F.expr(
                f"{sql_dot('`__v1`', '`__v2`')} / (`__n1` * `__n2`)"
            )
            >= tau
        )
        .select(id_col)
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    return (
        assigned.select(id_col, "cluster_id")
        .join(dropped, id_col, "left")
        .select(
            id_col,
            "cluster_id",
            F.coalesce(~F.col("__dropped"), F.lit(True)).alias("is_kept"),
        )
    )
