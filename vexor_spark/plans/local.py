"""Driver-held rows as a JVM LocalRelation.

`spark.createDataFrame(<python list>)` plans as ParallelCollectionRDD →
PythonRDD over defaultParallelism partitions, so every action on the
frame — even the broadcast of a ten-row join side — starts one Python
worker task per partition. Handing the rows over as an Arrow table
instead plans a LocalTableScan: the rows live in the plan itself, and
collecting or broadcasting them runs no task at all. A pandas frame is
not enough: an empty one falls back to the Python RDD path, while an
empty Arrow table still plans a LocalTableScan.

Every driver-built frame in the engine goes through `local_frame`
(tests/test_local_frame.py fails on any other createDataFrame call).
"""

from __future__ import annotations

from typing import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def local_frame(
    spark: SparkSession, rows: Sequence[tuple], schema: str | StructType
) -> DataFrame:
    """DataFrame over `rows` (tuples in `schema` field order) planned as
    a LocalTableScan. `schema` is a DDL string ("doc_id long, score
    double") or a StructType; the frame keeps it exactly, nullability
    included. `None` is a null in any column."""
    struct = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    arrow_schema = to_arrow_schema(struct)
    columns = zip(*rows) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)
