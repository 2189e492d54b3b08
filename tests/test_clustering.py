"""k-means: determinism, Lloyd's-monotonicity, and the trained-quantizer
path through IVF ANN (recall vs brute force must not collapse)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datafoundation_multi_source_retail_data_integration_hub_spark.functions.parity import (
    stable_sum,
)
from datafoundation_multi_source_retail_data_integration_hub_spark.operators.clustering import (
    assign_clusters,
    kmeans_fit,
    seed_centroids,
)
from datafoundation_multi_source_retail_data_integration_hub_spark.operators.similarity import (
    brute_force_topk,
    ivf_ann_topk,
    ivf_index,
)
from datafoundation_multi_source_retail_data_integration_hub_spark.sources.tables import (
    load_table,
)

from .conftest import SF_SMOKE

K = 4
DIM = 64


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_SMOKE, "embeddings")


def _inertia(df, cents) -> float:
    return (
        assign_clusters(df, cents)
        .agg(stable_sum(F.col("sq_dist")))
        .first()[0]
    )


def test_kmeans_deterministic(emb):
    a = kmeans_fit(emb, k=K, n_iter=2, dim=DIM)
    b = kmeans_fit(emb, k=K, n_iter=2, dim=DIM)
    assert a == b  # exact float equality: the whole pipeline is pinned


def test_kmeans_inertia_monotone(emb):
    seeds = seed_centroids(emb, K)
    fitted1 = kmeans_fit(emb, k=K, n_iter=1, dim=DIM)
    fitted2 = kmeans_fit(emb, k=K, n_iter=2, dim=DIM)
    i0, i1, i2 = (_inertia(emb, c) for c in (seeds, fitted1, fitted2))
    assert i1 < i0  # one Lloyd's step strictly improves random-ish seeds
    assert i2 <= i1


def test_kmeans_covers_all_vectors(emb):
    cents = kmeans_fit(emb, k=K, n_iter=1, dim=DIM)
    assigned = assign_clusters(emb, cents)
    assert assigned.count() == emb.count()
    n_cells = assigned.select("cluster_id").distinct().count()
    assert 1 <= n_cells <= K


def test_ivf_with_kmeans_centroids(spark, emb):
    cents = kmeans_fit(emb, k=K, n_iter=2, dim=DIM)
    cents_df = spark.createDataFrame(
        [(cid, vec) for cid, vec in cents], "cid INT, centv ARRAY<DOUBLE>"
    )
    queries = emb.filter(F.col("vec_id") < 5)
    k = 5
    index = ivf_index(emb, ("kmeans-quantizer", SF_SMOKE, K, DIM), centroids=cents_df)
    ann = ivf_ann_topk(index, queries, k, nprobe=2)
    exact = brute_force_topk(emb, queries, k)
    got = {(r["query_id"], r["neighbor_id"]) for r in ann.collect()}
    want = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    assert len(got) == 5 * k  # every query answered from its probed cells
    recall = len(got & want) / len(want)
    assert recall >= 0.3  # nprobe=2 of 4 coarse cells on random vectors

def test_pq_encode_and_adc_invariants(spark, emb):
    """PQ: codebooks bounded by k per subspace, codes are valid centroid
    ids, every query gets exactly top_k neighbors, and the reported ADC
    distance equals the sum of per-subspace code distances (recomputed in
    Python on a sampled row)."""
    import math

    from datafoundation_multi_source_retail_data_integration_hub_spark.operators.clustering import (
        prepare_vectors,
        unpersist_all,
    )
    from datafoundation_multi_source_retail_data_integration_hub_spark.operators.pq import (
        adc_topk,
        encode,
        train_codebooks,
    )

    m, sub, k, top_k = 4, DIM // 4, 4, 5
    prep = prepare_vectors(emb)
    books = train_codebooks(prep, m, sub, k=k, n_iter=1)
    assert len(books) == m
    for cb in books:
        assert 1 <= len(cb) <= k
        assert all(len(vec) == sub for _, vec in cb)

    codes = encode(prep, books, sub)
    valid = [{cid for cid, _ in cb} for cb in books]
    crows = {r["vec_id"]: r for r in codes.collect()}
    for r in crows.values():
        for s in range(m):
            assert r[f"c{s}"] in valid[s]

    queries = prep.filter(F.col("vec_id") < 3)
    out = adc_topk(codes, queries, books, sub, top_k).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r["query_id"], []).append(r)
    assert set(per_q) == {0, 1, 2}
    assert all(len(v) == top_k for v in per_q.values())

    # recompute one ADC distance in Python
    qvecs = {
        r["vec_id"]: list(r["__dvec"]) for r in queries.collect()
    }
    r0 = per_q[0][0]
    qv, code_row = qvecs[0], crows[r0["neighbor_id"]]
    books_by_cid = [dict(cb) for cb in books]
    expect = 0.0
    for s in range(m):
        cv = books_by_cid[s][code_row[f"c{s}"]]
        qs = qv[s * sub : (s + 1) * sub]
        expect += sum((a - b) * (a - b) for a, b in zip(qs, cv))
    assert math.isclose(r0["approx_dist"], expect, rel_tol=1e-9)
    unpersist_all()


def test_double_array_literal_bit_equals_flit(spark):
    """The SQL-text literal path (one JVM parse) must produce the same
    doubles as element-wise F.lit — repr() round-trips through the same
    IEEE-754 nearest rule Double.parseDouble applies. Adversarial values:
    subnormal-ish tiny, many digits, negatives, exponent forms."""
    import random

    from pyspark.sql import functions as F

    from datafoundation_multi_source_retail_data_integration_hub_spark.operators.clustering import (
        double_array_literal,
    )

    random.seed(11)
    vals = (
        [random.uniform(-1, 1) for _ in range(32)]
        + [1e-300, -1e-300, 4.9e-324, 1.7976931348623157e308, 0.1, -0.0, 3.0]
        + [random.uniform(-1e6, 1e6) for _ in range(32)]
    )
    row = spark.range(1).select(
        double_array_literal(vals).alias("a"),
        F.array(*[F.lit(float(x)) for x in vals]).alias("b"),
    ).first()
    import struct as _s

    assert [
        _s.pack("d", x) for x in row["a"]
    ] == [_s.pack("d", x) for x in row["b"]]
