"""Source readers: CSV (encoding-aware), JSON/REST, JDBC.

Covers the reference's ingestion surface:
- latin1 CSV with header + inferred types (``etl/load_sales.py:7-10`` S1),
- utf-8 CSV (``etl/load_products.py:7`` S2),
- the documented Fake Store REST API source with nested-JSON flattening
  (``README.md:53-57,108-113`` S3/F11),
- JDBC staging source/sink (``etl/db_connection.py``,
  ``etl/load_to_query.py:74`` S4/S5).

Production posture: prefer explicit schemas over inference (inference
costs an extra full scan and can drift run-to-run); REST ingestion happens
driver-side for small reference feeds (20 products) — a real large feed
would land on object storage and stream through the file source instead.
"""

from __future__ import annotations

import json
from collections.abc import Iterable, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.local import local_frame
from ..functions.normalize import normalize_columns

# Spark 4 accepts only canonical charset names; the reference (pandas)
# says "latin1" — map the common aliases.
_CHARSET_ALIASES = {"latin1": "iso-8859-1", "latin-1": "iso-8859-1", "ascii": "us-ascii"}


def read_csv(
    spark: SparkSession,
    path: str,
    encoding: str = "utf-8",
    header: bool = True,
    schema: T.StructType | str | None = None,
    infer_schema: bool = False,
    normalize: bool = False,
) -> DataFrame:
    """CSV scan with explicit encoding; optionally normalize column names
    (the reference normalizes immediately after read)."""
    reader = (
        spark.read.option("header", header)
        .option("encoding", _CHARSET_ALIASES.get(encoding.lower(), encoding))
        .option("multiLine", False)
    )
    if schema is not None:
        reader = reader.schema(schema)
    elif infer_schema:
        reader = reader.option("inferSchema", True)
    df = reader.csv(path)
    return normalize_columns(df) if normalize else df


# --- REST / JSON records ---------------------------------------------------

# Fake Store API product schema (reference README.md:108-113): nested
# ``rating`` struct exercises struct flattening.
API_PRODUCT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("title", T.StringType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("description", T.StringType()),
        T.StructField("category", T.StringType()),
        T.StructField("image", T.StringType()),
        T.StructField(
            "rating",
            T.StructType(
                [
                    T.StructField("rate", T.DoubleType()),
                    T.StructField("count", T.LongType()),
                ]
            ),
        ),
    ]
)


def from_json_records(
    spark: SparkSession,
    records: Iterable[Mapping],
    schema: T.StructType,
    source_tag: str | None = None,
) -> DataFrame:
    """Parse a batch of JSON-able records (e.g. a REST response) through
    ``from_json`` with an explicit schema — engine-side parsing, identical
    code path whether records arrive from HTTP, a queue, or a file."""
    payload = [(json.dumps(r),) for r in records]
    raw = local_frame(spark, payload, "raw string")
    df = raw.select(F.from_json("raw", schema).alias("rec")).select("rec.*")
    if source_tag is not None:
        df = df.withColumn("source", F.lit(source_tag))
    return df


def flatten_structs(df: DataFrame) -> DataFrame:
    """One-level struct flattening: ``rating`` -> ``rating_rate``,
    ``rating_count`` (reference F11)."""
    cols: list[F.Column] = []
    for field in df.schema.fields:
        if isinstance(field.dataType, T.StructType):
            for sub in field.dataType.fields:
                cols.append(
                    F.col(f"{field.name}.{sub.name}").alias(
                        f"{field.name}_{sub.name}"
                    )
                )
        else:
            cols.append(F.col(field.name))
    return df.select(*cols)


def fetch_rest_products(
    spark: SparkSession,
    url: str = "https://fakestoreapi.com/products",
    timeout: int = 30,
) -> DataFrame:
    """REST API source (reference S3). Driver-side HTTP GET -> engine-side
    JSON parse. Gated: raises RuntimeError when ``requests`` (or the
    network) is unavailable — tests use ``from_json_records`` directly."""
    try:
        import requests  # noqa: PLC0415
    except ImportError as exc:  # pragma: no cover
        raise RuntimeError(
            "REST source requires the 'requests' package"
        ) from exc
    resp = requests.get(url, timeout=timeout)
    resp.raise_for_status()
    return from_json_records(
        spark, resp.json(), API_PRODUCT_SCHEMA, source_tag="fakestore_api"
    )


# --- JDBC ------------------------------------------------------------------


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    properties: Mapping[str, str] | None = None,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
) -> DataFrame:
    """JDBC staging scan (reference S5: ``pd.read_sql('SELECT * ...')``).

    When ``partition_column`` bounds are given the scan parallelizes into
    ``num_partitions`` range-sliced queries — the single-connection full
    pull of the reference does not survive at scale.
    (Requires the vendor JDBC jar on the Spark classpath.)
    """
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            # a None bound would be forwarded as a Java null inside the
            # JDBC option map and die with an opaque JVM-side error —
            # fail here with the actual contract instead
            raise ValueError(
                "read_jdbc: partition_column requires BOTH lower_bound "
                "and upper_bound (range-sliced partitioned scan)"
            )
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", num_partitions)
            .option("lowerBound", lower_bound)
            .option("upperBound", upper_bound)
        )
    return reader.load()


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    properties: Mapping[str, str] | None = None,
    batch_size: int = 10_000,
) -> None:
    """JDBC staging sink (reference S4: ``to_sql(if_exists='append')``),
    batched inserts instead of the reference's row-by-row wire protocol."""
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", batch_size)
        .mode(mode)
    )
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()
