"""Product quantization (PQ) for embedding corpora: per-subspace k-means
codebooks, byte-code encoding, and asymmetric-distance (ADC) top-k.

The ANN memory ladder at 100 TB: float32 vectors -> int8 scalar codes
(4x, ``queries/vectors.py::embedding_quantize_int8``) -> PQ codes
(``m`` bytes per vector regardless of dimension — 64x for dim=64/m=4,
the Jegou/Douze/Schmid IVF-ADC layout every production ANN index uses).

Spark shape:

- **train**: ``m`` independent deterministic k-means fits, each over a
  ``slice`` of the double-cast working set, persisted while the index
  builds — the corpus is scanned from cache, and each fit shuffles only
  k x sub doubles per iteration.
- **encode**: one map-side expression per subspace (codebooks enter the
  plan as literals, exactly like ``assign_clusters``); the corpus never
  shuffles. The encoded frame is ``m`` ints per vector.
- **index**: ``pq_index`` trains and encodes once and localCheckpoints
  the codes; codebooks and codes are a ``SESSION`` entry per corpus, so
  a request only runs the ADC probe below.
- **ADC query**: the query side (tiny) precomputes its per-subspace
  distance TABLE to every codebook centroid as a map literal-keyed
  column, broadcasts, and the scored join is ``m`` map lookups + an
  ``m``-term sum per (query, vector) — no vector arithmetic touches the
  corpus at query time. Top-k by (approx_dist, neighbor_id) window.

Determinism mirrors the clustering module: md5-hash seeds, squared-L2
left folds, lexicographic (dist, cid) tie-breaks — every stage is
reproducible in the DuckDB oracle (``queries/vectors.py``).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.concurrent import overlap
from . import storage
from .clustering import (
    Centroids,
    centroid_literal_sql,
    double_vectors,
    kmeans_fit,
    sq_dist_sql,
)


def train_codebooks(
    prep: DataFrame,
    m: int,
    sub: int,
    k: int = 8,
    n_iter: int = 2,
    vec_col: str = "__dvec",
    id_col: str = "vec_id",
    train_mod: int | None = None,
) -> list[Centroids]:
    """One deterministic k-means codebook per subspace. ``prep`` is a
    double-cast (``clustering.double_vectors``), persisted frame.

    The ``m`` fits are independent chains of tiny jobs (seed scan +
    ``n_iter`` aggregate-collects), so they run through ``overlap``: on a
    cold build training took 5.1 s instead of 7.1 s at sf0.1 on 4 cores.
    They run once per index build (``pq_index``), never on a
    request that probes a built index. Each subspace trains on its own
    slice and lands in its own list slot."""

    def fit(s: int) -> Centroids:
        sub_df = prep.select(
            F.col(id_col),
            F.slice(F.col(vec_col), s * sub + 1, sub).alias("__dvec"),
        )
        return kmeans_fit(
            sub_df,
            k=k,
            n_iter=n_iter,
            vec_col="__dvec",
            id_col=id_col,
            dim=sub,
            pre_cast=True,
            train_mod=train_mod,
        )

    return overlap(prep.sparkSession, *(partial(fit, s) for s in range(m)))


def pq_index(
    corpus: DataFrame,
    cache_key: tuple,
    m: int,
    sub: int,
    k: int = 8,
    n_iter: int = 2,
    train_mod: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[list[Centroids], DataFrame]:
    """The PQ index of ``corpus``: ``m`` codebooks and the codes frame
    (``id_col``, ``c0..c{m-1}``), localCheckpointed, for ``adc_topk``.

    A ``SESSION`` entry that holds data blocks, under ``cache_key`` (a
    tuple naming the corpus, e.g. its file identity) and the parameters:
    built once per session, a hit is bit-identical because training and
    encoding are deterministic. The build persists the double-cast corpus
    for its own duration and releases it; the index keeps only the codes
    (``m`` ints per vector)."""

    def build() -> tuple[list[Centroids], DataFrame]:
        prep = double_vectors(corpus, vec_col, id_col).persist()
        try:
            books = train_codebooks(
                prep, m, sub, k=k, n_iter=n_iter, id_col=id_col,
                train_mod=train_mod,
            )
            codes = encode(prep, books, sub, id_col=id_col)
            return books, codes.localCheckpoint(eager=True)
        finally:
            prep.unpersist()

    key = ("pq", cache_key, m, sub, k, n_iter, train_mod, vec_col, id_col)
    return storage.memo(corpus.sparkSession, storage.SESSION, key, build)


def _bt(name: str) -> str:
    """Backtick-quote a column name for SQL-text interpolation, so the
    selectExpr forms keep the any-name contract ``F.col()`` gave the
    old Column-API implementations."""
    return "`" + name.replace("`", "``") + "`"


def _nearest_cid_sql(vec: str, codebook: Centroids) -> str:
    # array_min over (d, cid) structs: lexicographic field order gives
    # the (dist, cid) tie-break every stage of this module uses
    return (
        f"array_min(transform({centroid_literal_sql(codebook)}, "
        f"c -> named_struct('d', {sq_dist_sql(vec, 'c.cv')}, "
        f"'cid', c.cid))).cid"
    )


def encode(
    prep: DataFrame,
    codebooks: list[Centroids],
    sub: int,
    vec_col: str = "__dvec",
    id_col: str = "vec_id",
) -> DataFrame:
    """PQ-encode the corpus: columns ``c0..c{m-1}`` (nearest centroid id
    per subspace). Pure map-side — the 100 TB scan-speed path.

    The projection is built as SQL text, ONE parse per column: the
    Column-API form (transform + lambda + struct per subspace) costs a
    py4j round trip per expression node — measured ~0.2 s of DRIVER
    time per construction at m=4/k=8, billed on every invocation since
    queries build their DataFrames fresh (same lesson as
    ``double_array_literal``; the parsed trees are identical)."""
    return prep.selectExpr(
        _bt(id_col),
        *[
            f"{_nearest_cid_sql(f'slice({_bt(vec_col)}, {s * sub + 1}, {sub})', cb)}"
            f" AS c{s}"
            for s, cb in enumerate(codebooks)
        ],
    )


def adc_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: list[Centroids],
    sub: int,
    top_k: int,
    vec_col: str = "__dvec",
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance top-k: exact query sub-vectors against the
    corpus's PQ codes. Output: (query_id, neighbor_id, approx_dist, rank).

    The per-query distance tables ride as map columns (cid ->
    subspace distance) built from the codebook literals, so after the
    broadcast join the score is ``m`` lookups + a fixed-order sum.

    Both projections are SQL text (one parse per column) for the same
    driver-side construction-cost reason as :func:`encode`."""
    def dist_table_sql(s: int, cb: Centroids) -> str:
        qsub = f"slice({_bt(vec_col)}, {s * sub + 1}, {sub})"
        cids = ",".join(f"{int(cid)}L" for cid, _ in cb)
        return (
            f"map_from_arrays(array({cids}), "
            f"transform({centroid_literal_sql(cb)}, "
            f"c -> {sq_dist_sql(qsub, 'c.cv')}))"
        )

    q = queries.selectExpr(
        f"{_bt(id_col)} AS query_id",
        *[
            f"{dist_table_sql(s, cb)} AS dt{s}"
            for s, cb in enumerate(codebooks)
        ],
    )
    # left-assoc sum matches the old reduce() fold order exactly
    approx = " + ".join(f"dt{s}[c{s}]" for s in range(len(codebooks)))
    scored = (
        codes.join(F.broadcast(q), F.col(id_col) != F.col("query_id"))
        .selectExpr(
            "query_id",
            f"{_bt(id_col)} AS neighbor_id",
            f"{approx} AS approx_dist",
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy("approx_dist", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
    )
