"""Deterministic, scalable global doc-id assignment.

Contract (SURVEY §1.4): doc_id = 0-based position in (url asc,
chunk_index asc) order — the distributed analog of the reference's
SQLite rowid-by-position (vexor/cache.py:604-633 over the path-sorted
file list, vexor/utils.py:362). Ranking ties break by doc_id asc, so
ids must be reproducible run-to-run.

A naive `row_number() OVER (ORDER BY url, chunk_index)` collapses to a
single partition — unusable at web scale. Instead:

1. `repartitionByRange` on the order key (range shuffle; ascending
   partition ids follow key order),
2. per-partition `row_number` windowed by `spark_partition_id()`
   (no cross-partition shuffle),
3. per-partition counts (tiny: one row per partition) collected and
   turned into cumulative offsets, broadcast-joined back.

The result is identical to the global row_number regardless of where
the sampled range boundaries land.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vexor_spark.plans.local import local_frame


def assign_doc_ids(
    df: DataFrame,
    order_cols: list[str],
    *,
    id_col: str = "doc_id",
    num_partitions: int | None = None,
    persisted_out: list | None = None,
) -> DataFrame:
    """persisted_out: if given, the internally persisted intermediate is
    appended so the caller can unpersist it once downstream results are
    materialized (otherwise it lives until session end)."""
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(num_partitions, *[F.col(c) for c in order_cols])
    with_pid = ranged.withColumn("_pid", F.spark_partition_id())
    w = Window.partitionBy("_pid").orderBy(*[F.col(c).asc() for c in order_cols])
    # Persist: the counts pass and the downstream pass must see the same
    # rows/partitioning without re-running the (UDF-heavy) upstream twice.
    local = with_pid.withColumn("_rn", F.row_number().over(w)).persist()
    if persisted_out is not None:
        persisted_out.append(local)
    # One row per partition — tiny driver-side cumulative sum.
    counts = local.groupBy("_pid").agg(F.count("*").alias("_cnt")).collect()
    offsets = {}
    acc = 0
    for row in sorted(counts, key=lambda r: r["_pid"]):
        offsets[row["_pid"]] = acc
        acc += row["_cnt"]
    spark = df.sparkSession
    offsets_df = local_frame(
        spark,
        [(int(pid), int(off)) for pid, off in offsets.items()],
        "_pid int, _off long",
    )
    return (
        local.join(F.broadcast(offsets_df), "_pid")
        .withColumn(id_col, (F.col("_off") + F.col("_rn") - F.lit(1)).cast("long"))
        .drop("_pid", "_rn", "_off")
    )
