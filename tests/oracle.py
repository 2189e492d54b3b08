"""Local re-implementation of the driver's Spark-vs-DuckDB comparison.

Mirrors the contract described in the driver docs: for each query name,
run the Spark callable and the DuckDB oracle SQL on the same parquet
tables, then compare row count, schema width, and an order-insensitive
value comparison with columns sorted by name.
"""

from __future__ import annotations

import math
import os
import struct

import duckdb
import pytest

import __spark_entry__ as entry

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        # property tests compare on synthetic single-table corpora —
        # skip absent files (a query touching a skipped table still
        # fails loudly: the view simply does not exist)
        if not os.path.exists(f"{sf_dir}/{t}.parquet"):
            continue
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # RAW-BIT compare (no rounding): the engine's parity machinery
        # (fixed-point sums, shared interpolation forms, monotone-
        # transform rules) makes every float column bit-identical across
        # engines, and the driver hashes raw values — a last-ulp drift
        # is a real regression. A 9-sig-digit compare here waved through
        # the round-5 quantile-interpolation drift that the raw-bit
        # verify recipe caught. Normalize to a (type tag, IEEE-754 bits)
        # pair rather than the float itself: Python's ``==`` would treat
        # -0.0 == 0.0 and 5 == 5.0 as equal, but the driver's value hash
        # distinguishes both sign-of-zero and int-vs-float dtype drift —
        # make them fail locally the same way they fail the driver.
        return ("f64", struct.pack("<d", v))
    if isinstance(v, (list, tuple)):
        # The grading driver canonicalizes with pandas sort_values over
        # every column, which cannot factorize list cells (r04:
        # embedding_quantize_int8 died with 'unhashable type: list').
        # Mirror that limitation here so an array-valued output column
        # fails in pytest before it fails at the driver.
        raise AssertionError(
            "oracle-compared queries must not emit array columns — "
            "join to a string or digest (driver canonicalizer cannot "
            f"sort list cells); got {v!r}"
        )
    return v


def _norm_rows(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for r in rows:
        vals = list(r)
        out.append(tuple(_norm_cell(vals[i]) for i in order))
    return sorted(out, key=repr)


def _int_to_float_cols(rows, n_cols, int_cols) -> set[int]:
    """Column indices pandas would canonicalize int -> float64: integer
    dtype with at least one NULL (classic pandas has no nullable int)."""
    out = set()
    for i in int_cols:
        if i in out:
            continue
        for r in rows:
            if r[i] is None:
                out.add(i)
                break
    return out


def _coerce_float64(rows, float_cols):
    if not float_cols:
        return [tuple(r) for r in rows]
    return [
        tuple(
            float(v)
            if i in float_cols and isinstance(v, int) and not isinstance(v, bool)
            else v
            for i, v in enumerate(r)
        )
        for r in rows
    ]


def compare(spark, sf_dir: str, spark_fn, sql: str, name: str = "?") -> None:
    sdf = spark_fn(spark, sf_dir)
    spark_rows = [tuple(r) for r in sdf.collect()]
    spark_cols = sdf.columns
    # Mirror the driver's pandas canonicalization on the SPARK side: an
    # integral column holding any NULL becomes float64 under toPandas
    # (classic pandas has no nullable int64), so its hashed values are
    # floats at the driver even though collect() hands back Python ints.
    spark_int_cols = {
        i
        for i, f in enumerate(sdf.schema.fields)
        if f.dataType.typeName() in ("byte", "short", "integer", "long")
    }
    spark_rows = _coerce_float64(
        spark_rows, _int_to_float_cols(spark_rows, len(spark_cols), spark_int_cols)
    )

    con = duckdb_conn(sf_dir)
    # Same canonicalization on the ORACLE side, via DuckDB's own pandas
    # conversion: HUGEINT (the result type of sum(BIGINT)) and nullable
    # integers land as float64 under ``.df()``, so their raw-value hash
    # diverges from Spark's int64 even though ``fetchall()`` hands back
    # equal Python ints. Probe the pandas dtypes once, then coerce
    # integer cells in float64-canonicalized columns to float — an
    # uncast sum() oracle now fails locally exactly the way it fails at
    # the driver (r07: purchase_graph_pagerank,
    # doc_language_balanced_sample).
    float64_cols = {
        i
        for i, c in enumerate(con.execute(sql).df().dtypes)
        if str(c) == "float64"
    }
    res = con.execute(sql)
    oracle_cols = [d[0] for d in res.description]
    oracle_rows = _coerce_float64(res.fetchall(), float64_cols)

    assert sorted(spark_cols) == sorted(oracle_cols), (
        f"{name}: column mismatch spark={sorted(spark_cols)} oracle={sorted(oracle_cols)}"
    )
    assert len(spark_rows) == len(oracle_rows), (
        f"{name}: row count spark={len(spark_rows)} oracle={len(oracle_rows)}"
    )
    s = _norm_rows(spark_rows, spark_cols)
    o = _norm_rows(oracle_rows, oracle_cols)
    for i, (a, b) in enumerate(zip(s, o)):
        assert a == b, f"{name}: first row diff at {i}:\n  spark={a}\n oracle={b}"


# the reference dashboard's tiles; each is also checked over three
# consecutive calls through the ``queries()`` registry, whose later calls
# run a prepared (analyzed-once) plan
DASHBOARD_QUERIES = (
    "kpi_summary",
    "daily_sales_trend",
    "flagship_star_revenue",
    "top_customers",
    "mart_sales_performance",
    "dashboard_extract",
)


def oracle_cases(module) -> list:
    """``(name, prepared)`` cases: one per query of ``module``, plus a
    ``-prepared`` case for each of its dashboard queries."""
    return [pytest.param(n, False, id=n) for n in sorted(module.QUERIES)] + [
        pytest.param(n, True, id=f"{n}-prepared")
        for n in DASHBOARD_QUERIES
        if n in module.QUERIES
    ]


def compare_case(spark, sf_dir: str, module, name: str, prepared: bool) -> None:
    if not prepared:
        compare(spark, sf_dir, module.QUERIES[name], module.ORACLES[name], name)
        return
    fn = entry.queries()[name]
    for call in range(3):
        compare(spark, sf_dir, fn, module.ORACLES[name], f"{name} call {call}")
