"""Driver-local rows -> DataFrame planned as a JVM ``LocalRelation``.

``local_frame(spark, rows, schema)`` returns a DataFrame whose values,
schema and row order equal ``spark.createDataFrame(rows, schema)``, but
whose plan is a ``LocalRelation`` built from an Arrow table instead of a
``LogicalRDD`` of pickled rows. Actions on it therefore start no Python
worker task: the rows live in the plan, and ``LocalTableScanExec`` splits
them into ``min(len(rows), defaultParallelism)`` partitions.

Every value first goes through its schema field's ``toInternal`` — the
conversion ``createDataFrame(rows, schema)`` applies — so a naive
``datetime`` means the same instant on both paths (the driver's local
zone), not the session time zone the Arrow reader would otherwise assume.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` as a ``LocalRelation``.

    ``rows`` is a materialized sequence of tuples (or ``Row``s / dicts);
    ``schema`` is a ``StructType`` or a DDL string for one. Types the Arrow
    conversion cannot take raise here, on the driver, not in a task.
    """
    struct = (
        schema if isinstance(schema, T.StructType) else T.DataType.fromDDL(schema)
    )
    if not isinstance(struct, T.StructType):
        raise TypeError(f"local_frame needs a struct schema, got {schema!r}")
    internal = [struct.toInternal(r) for r in rows]
    arrow_schema = to_arrow_schema(struct)
    columns = list(zip(*internal)) if internal else [()] * len(struct.fields)
    table = pa.Table.from_arrays(
        [pa.array(col, f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)
