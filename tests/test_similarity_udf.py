"""The Arrow-batched pandas-UDF cosine path agrees with the expression path
(same float64 math, different execution engines — §2.10 UDF surface)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datafoundation_multi_source_retail_data_integration_hub_spark.operators.similarity import (
    cosine,
)

from .conftest import SF_SMOKE


def cosine_pandas_udf(dim: int):
    """Pandas-UDF cosine against a fixed query vector: call the result with
    the query vector (a Python list) to get the column function."""

    def for_query(qvec: list[float]):
        if len(qvec) != dim:
            raise ValueError(f"query vector has dim {len(qvec)}, expected {dim}")
        q = np.asarray(qvec, dtype="float64")
        qn = float(np.sqrt((q * q).sum()))

        def _cos(batch):  # pd.Series[list[float]] -> pd.Series[float]
            m = np.vstack(batch.map(lambda v: np.asarray(v, dtype="float64")))
            dots = m @ q
            norms = np.sqrt((m * m).sum(axis=1))
            return pd.Series(dots / (norms * qn))

        # no type hints: local-alias annotations are not resolvable by
        # pyspark's hint inference; explicit SCALAR eval type instead
        return F.pandas_udf(_cos, T.DoubleType())

    return for_query


def test_pandas_udf_cosine_matches_expression(spark):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    qvec = emb.filter(F.col("vec_id") == 0).first()["embedding"]

    expr_scores = {
        r["vec_id"]: r["cos"]
        for r in emb.filter(F.col("vec_id") < 50)
        .select(
            "vec_id",
            cosine(
                F.col("embedding"),
                F.array(*[F.lit(float(x)) for x in qvec]),
            ).alias("cos"),
        )
        .collect()
    }
    udf_cos = cosine_pandas_udf(len(qvec))(list(map(float, qvec)))
    udf_scores = {
        r["vec_id"]: r["cos"]
        for r in emb.filter(F.col("vec_id") < 50)
        .select("vec_id", udf_cos(F.col("embedding")).alias("cos"))
        .collect()
    }
    assert set(expr_scores) == set(udf_scores)
    for k in expr_scores:
        # numpy dot reassociates; agreement to float64 roundoff is the contract
        assert udf_scores[k] == pytest.approx(expr_scores[k], rel=1e-12, abs=1e-12)


def test_sql_string_vector_math_bit_equal(spark):
    """The single-``F.expr`` string forms of dot/norm/cosine/bucket_id
    (driver-time fast path) must be bit-identical to the Column-lambda
    forms — same fold order, same float64 casts."""
    import struct

    from pyspark.sql import functions as F

    from datafoundation_multi_source_retail_data_integration_hub_spark.operators.similarity import (
        bucket_id,
        cosine,
        dot,
        hyperplanes,
        norm,
    )

    df = spark.createDataFrame(
        [
            (1, [0.25, -1.5, 3.125, 0.1], [1.0, 2.0, -0.5, 0.3]),
            (2, [1e-8, 1e8, -1e-8, 2.0], [0.1, 0.1, 0.1, 0.1]),
        ],
        "id long, a array<double>, b array<double>",
    )
    planes = hyperplanes(4, 4)

    def bits(v):
        return struct.pack("<d", float(v)).hex()

    col_rows = df.select(
        dot(F.col("a"), F.col("b")).alias("d"),
        norm(F.col("a")).alias("n"),
        cosine(F.col("a"), F.col("b")).alias("c"),
        bucket_id(F.col("a"), planes).alias("bk"),
    ).orderBy("d").collect()
    str_rows = df.select(
        dot("a", "b").alias("d"),
        norm("a").alias("n"),
        cosine("a", "b").alias("c"),
        bucket_id("a", planes).alias("bk"),
    ).orderBy("d").collect()
    for cr, sr in zip(col_rows, str_rows):
        assert bits(cr["d"]) == bits(sr["d"])
        assert bits(cr["n"]) == bits(sr["n"])
        assert bits(cr["c"]) == bits(sr["c"])
        assert cr["bk"] == sr["bk"]
