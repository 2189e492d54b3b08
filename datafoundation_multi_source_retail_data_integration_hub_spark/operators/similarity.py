"""Similarity search over embedding columns (``array<float>``).

Two paths:

- **Brute-force cosine top-k** — the exact baseline. Queries are a small
  set broadcast against the corpus; the dot product is a codegen'd
  ``zip_with`` + ``aggregate`` fold (JVM-side, no Python); top-k per query
  via a ranked window. At 100 TB the corpus side stays partition-parallel:
  the only shuffle is the (n_queries x corpus) scored rows into the
  per-query top-k — bounded by pre-filtering each partition to its local
  top-k first when k << partition rows (AQE handles the final skew).

- **LSH-bucketed ANN** — sign-random-projection buckets: h deterministic
  hyperplanes (md5-derived pseudo-random components, reproducible in any
  engine) -> h sign bits -> bucket id. Queries only score against corpus
  vectors in the same bucket: the cross product becomes an equi-join on
  the bucket key. Recall < 1 by construction; the driver oracle checks
  exact algorithm parity, and tests measure recall against brute force.

All arithmetic is done in float64 after casting the float32 inputs, with
a left-fold accumulation order that DuckDB's ``list_sum`` reproduces.

MEASURED DEAD END (do not retry): unrolling the dim-64 fold into an
explicit left-associative expression chain (``0.0 + a[0]*b[0] + ...``)
to escape the higher-order functions' CodegenFallback made every vector
query 3-5x SLOWER at sf0.1 (ivf 1.4 -> 5.5 s steady-state): the
generated straight-line method exceeds HotSpot's JIT method budget, so
the "codegen" path runs as interpreted bytecode, while the fold
evaluates as a tight pre-compiled Scala loop over the array. The fold
IS the fast expression form for wide vectors. Re-measured at subspace
scale too (PQ, 16-term chains, 8 centroids per output column):
still 4.5x slower (1.5 -> 7 s) — per-getItem expression nodes never
beat the fold's specialized array loop, at any width tried.
"""

from __future__ import annotations

import hashlib
from functools import reduce
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import storage

# ---------------------------------------------------------------------------
# vector math (built-in expressions only). Each helper accepts a Column
# or a Spark SQL string; the string form parses the whole fold as ONE
# ``F.expr`` — one py4j round-trip instead of the ~15 the higher-order
# Column lambdas cost (the lambdas are the expensive construction path:
# each builds Python-side UnresolvedNamedLambdaVariables over several
# RPCs, billed per query construction — see ARCHITECTURE.md "Driver
# time is a hot path"). The parsed tree is the identical Catalyst
# expression, so scores stay bit-equal (pinned in
# tests/test_similarity_udf.py::test_sql_string_vector_math_bit_equal).
# ---------------------------------------------------------------------------


def sql_dot(a: str, b: str) -> str:
    """Spark SQL text of ``dot`` — Σ a[i]*b[i] left-fold in float64."""
    return (
        f"aggregate(zip_with({a}, {b},"
        " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " 0.0D, (acc, x) -> acc + x)"
    )


def sql_norm(a: str) -> str:
    """Spark SQL text of ``norm``."""
    return (
        f"sqrt(aggregate(transform({a},"
        " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
        " 0.0D, (acc, x) -> acc + x))"
    )


def dot(a: Column | str, b: Column | str) -> Column:
    """Σ a[i]*b[i] as a left-fold in index order (float64)."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(sql_dot(a, b))
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column | str) -> Column:
    if isinstance(a, str):
        return F.expr(sql_norm(a))
    sq = F.transform(a, lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column | str, b: Column | str) -> Column:
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(
            f"{sql_dot(a, b)} / ({sql_norm(a)} * {sql_norm(b)})"
        )
    return dot(a, b) / (norm(a) * norm(b))


# ---------------------------------------------------------------------------
# brute-force top-k
# ---------------------------------------------------------------------------


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of ``corpus`` for every row of ``queries``.

    Output: (query_id, neighbor_id, cosine, rank), rank 1..k per query,
    ties broken by neighbor id; self-matches excluded.
    """
    # norms are hoisted to one fold per SIDE row: the pair scan then does
    # a single dot fold instead of three — identical IEEE operand values
    # (a vector's norm does not depend on the pair), so scores are
    # bit-equal to the inline form
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        norm(f"`{vec_col}`").alias("__qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        norm(f"`{vec_col}`").alias("__cn"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            F.expr(f"{sql_dot('qvec', 'cvec')} / (`__qn` * `__cn`)"),
        )
        # narrow the exchange rows: vectors are dead weight past this point
        .select("query_id", "neighbor_id", "cosine")
    )
    return exact_topk_per_query(scored, k)


def exact_topk_per_query(scored: DataFrame, k: int) -> DataFrame:
    """Two-stage exact top-k over (query_id, neighbor_id, cosine) rows.

    A single per-query window funnels each query's ENTIRE scored set
    through one task (n_queries tasks total — the scale wall). Stage 1
    ranks per (query, input-partition): the exchange spreads over
    n_queries * n_partitions keys and the global top-k is provably a
    subset of the per-partition top-k's, so stage 2's exact window sees
    only <= k * n_partitions rows per query.
    """
    order = (F.col("cosine").desc(), F.col("neighbor_id"))
    local_w = Window.partitionBy("query_id", "__pid").orderBy(*order)
    survivors = (
        scored.withColumn("__pid", F.spark_partition_id())
        .withColumn("__lrank", F.row_number().over(local_w))
        .filter(F.col("__lrank") <= k)
    )
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        survivors.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# LSH (sign random projection) ANN
# ---------------------------------------------------------------------------


def hyperplanes(n_planes: int, dim: int, table: int = 0) -> list[list[float]]:
    """Deterministic pseudo-random hyperplane components in [-1, 1]:
    plane[p][d] = (md5(p:d) mod 2001 - 1000) / 1000 — engine-independent.
    ``table`` > 0 derives an independent plane family (md5(t<t>:p:d)) for
    OR-amplified multi-table LSH; table 0 keeps the original keys."""
    planes = []
    prefix = "" if table == 0 else f"t{table}:"
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = int(
                hashlib.md5(f"{prefix}{p}:{d}".encode()).hexdigest()[:15], 16
            )
            row.append((h % 2001 - 1000) / 1000.0)
        planes.append(row)
    return planes


def planes_for_corpus(
    n_vectors: int,
    target_bucket_rows: int = 100_000,
    min_planes: int = 4,
    max_planes: int = 24,
) -> int:
    """Scale the bucket count with the corpus: pick ``p`` so the EXPECTED
    bucket (n / 2^p rows) holds about ``target_bucket_rows`` vectors.

    The round-1 default of 6 planes (64 buckets) is a toy-scale constant:
    at 1e9 vectors each bucket would still hold ~16M rows and the
    "bucketed" self-join degenerates toward all-pairs. This gate makes the
    parameterization explicit: 1e9 vectors / 100k-target -> 14 planes
    (16384 buckets). Recall per table drops as p grows — compensate with
    multi-probe (``probe_radius``) or OR-amplification (``n_tables``).
    """
    import math

    need = math.ceil(math.log2(max(1.0, n_vectors / target_bucket_rows)))
    return min(max(min_planes, need), max_planes)


def bucket_id(vec: Column | str, planes: list[list[float]]) -> Column:
    """Sign-bit bucket: bit p = 1 iff dot(vec, plane_p) > 0.

    String input parses all ``n_planes`` sign tests as ONE expression
    (the Column form pays the lambda-construction RPCs per plane)."""
    from .clustering import double_array_literal, double_array_sql

    if isinstance(vec, str):
        if not planes:
            return F.expr("0")
        terms = " + ".join(
            f"(CASE WHEN {sql_dot(vec, double_array_sql(plane))} > 0"
            f" THEN {1 << p} ELSE 0 END)"
            for p, plane in enumerate(planes)
        )
        return F.expr(f"(0 + {terms})")
    out = F.lit(0)
    for p, plane in enumerate(planes):
        plane_col = double_array_literal(plane)
        out = out + F.when(dot(vec, plane_col) > 0, F.lit(1 << p)).otherwise(0)
    return out


def cosine_neardup_pairs(
    corpus: DataFrame,
    threshold: float,
    n_planes: int = 6,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 1,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id1 < id2, cosine >= t).

    The dedup-by-embedding modality: corpus self-join restricted to
    same-LSH-bucket candidates (one hash pass over the corpus, equi-join
    on the bucket id), then exact cosine verification. High-cosine pairs
    collide in sign-projection buckets with probability
    ((pi - theta)/pi)^planes, so recall rises with the threshold —
    the regime dedup cares about.

    Scale parameterization: pick ``n_planes`` with ``planes_for_corpus``
    (bucket count must grow with the corpus or the self-join degenerates
    toward all-pairs), and recover the recall a deeper hash costs via
    ``n_tables`` OR-amplification — each extra table is an independent
    plane family whose candidate pairs union in before verification
    (miss probability (1 - (1-θ/π)^p)^T, driven down exponentially in T).
    """
    tables = []
    for t in range(n_tables):
        planes = hyperplanes(n_planes, dim, table=t)
        tables.append(
            corpus.select(
                F.col(id_col).alias("vid"),
                F.col(vec_col).alias("vec"),
                # norm precomputed per (vector, table): the verification
                # cosine is dot/(n1*n2) with identical IEEE operands, but
                # the norm folds run corpus-linear instead of per pair
                norm(f"`{vec_col}`").alias("nrm"),
                F.lit(t).alias("tbl"),
                bucket_id(f"`{vec_col}`", planes).alias("bucket"),
            )
        )
    c = reduce(lambda a, b: a.unionByName(b), tables)
    lhs = c.select(
        F.col("vid").alias("id1"), F.col("vec").alias("v1"),
        F.col("nrm").alias("n1"), "tbl", "bucket"
    )
    rhs = c.select(
        F.col("vid").alias("id2"), F.col("vec").alias("v2"),
        F.col("nrm").alias("n2"), "tbl", "bucket"
    )
    scored = (
        lhs.join(rhs, ["tbl", "bucket"])
        .filter(F.col("id1") < F.col("id2"))
        .withColumn("cosine", F.expr(f"{sql_dot('v1', 'v2')} / (n1 * n2)"))
        .filter(F.col("cosine") >= threshold)
        .select("id1", "id2", "cosine")
    )
    if n_tables > 1:
        # the same pair can collide in several tables: verify MAP-SIDE
        # first, then dedup the narrow (id1, id2, cosine) rows — a
        # pre-verify distinct would shuffle full vector payloads
        # (~1 KB/row at dim 64) to save at most T-1 recomputed dot
        # products per duplicated pair. At n_tables=1 one vector has
        # exactly one bucket, so no pair can repeat and no distinct
        # (i.e. no extra exchange) is needed at all.
        scored = scored.distinct()
    return scored


def lsh_scored(
    corpus: DataFrame,
    queries: DataFrame,
    n_planes: int = 6,
    dim: int = 64,
    probe_radius: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The LSH candidate stage: (query_id, neighbor_id, cosine) for every
    bucket-colliding pair — ``lsh_ann_topk`` ranks this; the ANN quality
    report also counts it (the candidate set IS the method's cost)."""
    planes = hyperplanes(n_planes, dim)
    # norms hoisted to one fold per side (bit-equal scores — see
    # brute_force_topk); the corpus is hashed AND normed exactly once
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        norm(f"`{vec_col}`").alias("__qn"),
        bucket_id(f"`{vec_col}`", planes).alias("bucket"),
    )
    if probe_radius >= 1:
        # offsets: 0 = exact bucket, p+1 = flip plane p's bit
        probes = F.explode(
            F.array(F.lit(0), *[F.lit(1 << p) for p in range(n_planes)])
        ).alias("flip")
        q = q.select("query_id", "qvec", "__qn", "bucket", probes).select(
            "query_id",
            "qvec",
            "__qn",
            F.col("bucket").bitwiseXOR(F.col("flip")).alias("bucket"),
        )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        norm(f"`{vec_col}`").alias("__cn"),
        bucket_id(f"`{vec_col}`", planes).alias("bucket"),
    )
    return (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            F.expr(f"{sql_dot('qvec', 'cvec')} / (`__qn` * `__cn`)"),
        )
        .select("query_id", "neighbor_id", "cosine")
    )


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    n_planes: int = 6,
    dim: int = 64,
    probe_radius: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k: score only corpus vectors whose bucket is
    within Hamming distance ``probe_radius`` (0 or 1) of the query bucket.

    The cross join of brute force becomes an equi-join on the bucket id —
    with b buckets the scored pairs shrink ~b/(1+n_planes)-fold.
    Multi-probe flips one sign bit at a time on the *query* side (the tiny
    side), so the corpus is still hashed exactly once.
    """
    return exact_topk_per_query(
        lsh_scored(
            corpus,
            queries,
            n_planes=n_planes,
            dim=dim,
            probe_radius=probe_radius,
            id_col=id_col,
            vec_col=vec_col,
        ),
        k,
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN
# ---------------------------------------------------------------------------


class IvfIndex(NamedTuple):
    """A built IVF index: ``cells`` holds one row per corpus vector —
    (cid, neighbor_id, cvec, __cn), localCheckpointed — and ``cents``
    the coarse quantizer's (cid, centv, __cen) rows it was assigned to."""

    cells: DataFrame
    cents: DataFrame


def ivf_index(
    corpus: DataFrame,
    cache_key: tuple,
    centroid_stride: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> IvfIndex:
    """The IVF cell assignment: partition the corpus into Voronoi cells
    around centroid vectors, built in one action (a localCheckpoint).
    ``ivf_probe`` then scores queries only within their nearest cells.

    Coarse quantizer: every ``centroid_stride``-th corpus vector serves as
    a centroid — deterministic (hence cross-engine oracle-checkable) and a
    standard cheap init; its rows are read back from the cells, so the
    index is the one checkpoint. ``centroids`` swaps in a trained
    quantizer (e.g. ``operators.clustering.kmeans_fit``): (cid, centv)
    rows drop into the identical cell-assignment plan.

    A ``SESSION`` entry that holds data blocks, built once per session
    under ``cache_key`` (a tuple naming the corpus, e.g. its file
    identity, and the trained quantizer if one is given) and the
    parameters.

    Scale shape: centroids broadcast (C = n/stride rows); cell assignment
    is one map-side pass (crossJoin vs the broadcast + partial-aggregated
    ``max_by`` — the shuffle carries one row per corpus vector, never the
    corpus x C scored pairs).
    """

    def build() -> IvfIndex:
        if centroids is not None:
            cents = centroids.select("cid", "centv")
        else:
            cents = corpus.filter(
                (F.col(id_col) % centroid_stride) == 0
            ).select(F.col(id_col).alias("cid"), F.col(vec_col).alias("centv"))
        # norms hoisted to one fold per side (centroid norms fold once per
        # centroid INSIDE the broadcast build, not once per corpus x C
        # pair) — identical IEEE operand values, bit-equal csim/cosine
        # (see brute_force_topk)
        cents = cents.withColumn("__cen", norm("centv"))
        # tie rule: highest cosine, then LOWEST centroid id -> max_by on
        # the (csim, -cid) pair, mirrored by arg_max(cid, [csim, -cid]) in
        # DuckDB
        ckey = F.struct(
            F.col("csim"), (-F.col("cid")).cast("double").alias("ncid")
        )
        cells = (
            corpus.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).alias("cvec"),
                norm(f"`{vec_col}`").alias("__cn"),
            )
            .crossJoin(F.broadcast(cents))
            .withColumn(
                "csim",
                F.expr(f"{sql_dot('cvec', 'centv')} / (`__cn` * `__cen`)"),
            )
            .groupBy("neighbor_id")
            .agg(
                F.max_by("cid", ckey).alias("cid"),
                F.first("cvec").alias("cvec"),
                F.first("__cn").alias("__cn"),
            )
            .localCheckpoint(eager=True)
        )
        if centroids is None:
            # a stride centroid is a corpus vector: its cell row carries
            # the vector and the same norm fold
            cents = cells.filter(
                (F.col("neighbor_id") % centroid_stride) == 0
            ).select(
                F.col("neighbor_id").alias("cid"),
                F.col("cvec").alias("centv"),
                F.col("__cn").alias("__cen"),
            )
        return IvfIndex(cells, cents)

    key = ("ivf", cache_key, centroid_stride, id_col, vec_col)
    return storage.memo(corpus.sparkSession, storage.SESSION, key, build)


def ivf_probe(
    index: IvfIndex,
    queries: DataFrame,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF candidate stage: (query_id, neighbor_id, cosine) for every
    corpus vector in the ``nprobe`` cells nearest each query — the probe
    join is an equi-join on the cell id with the tiny query side
    broadcast. Recall rises with ``nprobe`` exactly as in FAISS-style
    IVF."""
    qscored = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            norm(f"`{vec_col}`").alias("__qn"),
        )
        .crossJoin(F.broadcast(index.cents))
        .withColumn(
            "csim",
            F.expr(f"{sql_dot('qvec', 'centv')} / (`__qn` * `__cen`)"),
        )
    )
    qw = Window.partitionBy("query_id").orderBy(
        F.col("csim").desc(), F.col("cid")
    )
    probes = (
        qscored.withColumn("__pr", F.row_number().over(qw))
        .filter(F.col("__pr") <= nprobe)
        .select("query_id", "qvec", "__qn", "cid")
    )
    return (
        index.cells.join(F.broadcast(probes), "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            F.expr(f"{sql_dot('qvec', 'cvec')} / (`__qn` * `__cn`)"),
        )
        .select("query_id", "neighbor_id", "cosine")
    )


def ivf_ann_topk(
    index: IvfIndex,
    queries: DataFrame,
    k: int,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k over the ``ivf_probe`` candidate stage (see
    ``ivf_index`` for the plan shape and scale analysis)."""
    return exact_topk_per_query(
        ivf_probe(index, queries, nprobe=nprobe, id_col=id_col, vec_col=vec_col),
        k,
    )
