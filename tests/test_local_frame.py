"""plans/local.local_frame: driver-held rows become a JVM LocalRelation.

The plan is asserted directly: an Arrow fallback to the Python RDD path
would keep every result the same and only show up as a different
physical plan (ParallelCollectionRDD → PythonRDD / Scan ExistingRDD).
"""

from __future__ import annotations

import ast
import json
from pathlib import Path

import pytest
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from vexor_spark.index.storage import PersistedIndex, build_and_write_index
from vexor_spark.plans.local import local_frame
from vexor_spark.sources.corpus import generate_pages_df

PKG = Path(__file__).resolve().parent.parent / "vexor_spark"

DDL = "a long, b int, c double, d string"
STRUCT = StructType(
    [
        StructField("a", LongType(), False),
        StructField("b", IntegerType(), True),
        StructField("c", DoubleType(), True),
        StructField("d", StringType(), True),
    ]
)
ROWS = [(1, 2, 0.5, "x"), (2**40, None, None, None), (-3, -4, 1e300, "")]


def _plan_root(df) -> str:
    return df._jdf.queryExecution().executedPlan().nodeName()


@pytest.mark.parametrize("schema", [DDL, STRUCT], ids=["ddl", "struct"])
@pytest.mark.parametrize("rows", [[], ROWS], ids=["empty", "rows"])
def test_local_frame_schema_rows_and_plan(spark, schema, rows):
    df = local_frame(spark, rows, schema)
    want = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    assert df.schema == want
    # the JVM side carries the same schema (nullability included)
    assert StructType.fromJson(json.loads(df._jdf.schema().json())) == want
    assert [tuple(r) for r in df.collect()] == rows
    assert _plan_root(df) == "LocalTableScan"


@pytest.fixture(scope="module")
def persisted(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("local_frame_index")
    build_and_write_index(generate_pages_df(spark, 40, partitions=2), d, term_buckets=4)
    return PersistedIndex(spark, d), d


@pytest.mark.parametrize(
    "query", ["spark", "zzqqxx_no_such_term", ""], ids=["hit", "no_hit", "empty"]
)
def test_search_distributed_is_local_relation(persisted, query):
    idx, _ = persisted
    df = idx.search_distributed(query, k=10)
    rows = df.collect()
    assert bool(rows) == (query == "spark")
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    assert _plan_root(df) == "LocalTableScan"


def test_stats_written_as_one_file(persisted):
    _, d = persisted
    assert len(list((d / "stats").glob("*.parquet"))) == 1


def test_no_create_dataframe_outside_local_frame():
    """A createDataFrame call anywhere else in the package would bring
    back the Python-worker round trip local_frame exists to avoid."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        allowed = set()
        if path == PKG / "plans" / "local.py":
            for fn in ast.walk(tree):
                if isinstance(fn, ast.FunctionDef) and fn.name == "local_frame":
                    allowed |= {id(n) for n in ast.walk(fn)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
                and id(node) not in allowed
            ):
                offenders.append(f"{path.relative_to(PKG.parent)}:{node.lineno}")
    assert not offenders, offenders
