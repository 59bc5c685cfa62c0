"""Bounded top-k ranking without a single-partition window.

`row_number() OVER (ORDER BY …)` — even after a `.limit(k)` — compiles
to an unpartitioned WindowExec ("No Partition Defined … moving all data
to a single partition"): a misleading plan at best, a full-corpus
funnel when someone forgets the limit. TakeOrderedAndProject already
performs a distributed partial top-k with a driver-side merge of k
rows, so assigning rank positions there is free, exact, and bounded.

The collect here is the SAME k-row driver materialization TakeOrdered
does internally; callers pass k ≤ a few hundred by contract (search
top-k, rerank candidate clamps). The numbered rows come back as a
LocalRelation (plans/local.py): a later collect, join or broadcast of
the result reads them from the plan and starts no task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StructField, StructType

from vexor_spark.plans.local import local_frame


def take_ranked(df: DataFrame, order_cols, k: int, *, rank_col: str = "rank") -> DataFrame:
    """orderBy(*order_cols).limit(k) + 1-based `rank_col` prepended.

    Exact equivalent of `row_number() OVER (ORDER BY order_cols)` kept
    to the top k rows, evaluated as TakeOrderedAndProject + a ≤k-row
    driver numbering pass. The result is a LocalRelation holding those
    rows (plan: LocalTableScan), not a re-parallelized RDD, so reading
    it costs no Python-worker round trip.
    """
    rows = df.orderBy(*order_cols).limit(k).collect()
    schema = StructType(
        [StructField(rank_col, LongType(), False), *df.schema.fields]
    )
    data = [(i + 1, *tuple(r)) for i, r in enumerate(rows)]
    return local_frame(df.sparkSession, data, schema)
