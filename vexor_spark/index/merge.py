"""Full merge: rebuild the persisted index artifact from the chunk store.

The reference's update flow re-embeds changed files, then rewrites
positions and rebuilds the SQLite tables
(vexor/services/index_service.py:263-344, cache.py:983-994). Here the
chunk store that stage 1 (checkpoint.build_chunks_resumable) keeps
current is the input, and `full_merge` turns it into a complete base
artifact: doc ids → tf → streamed posting blocks → postings/, dict/,
docs/, stats/ and meta.json. It is the stage-2 path of the first
build, of a rebuild over the change-ratio gate and of segment
compaction (index.maintenance.update_index routes between them and
delta segments, index.delta).

Every full merge encodes block_ub / max_kernel with the new corpus's
avg doc length and records it as the ub basis (`ub_avg_doc_len` in
meta.json); delta layers stacked on top later keep that basis
(PersistedIndex.ub_factor corrects for the drift).
"""

from __future__ import annotations

import json
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vexor_spark.functions.codec import POSTING_BLOCK_SIZE
from vexor_spark.index.storage import (
    DOC_COLS,
    FORMAT_VERSION,
    _sorted_block_rows,
    drop_segment_layers,
)
from vexor_spark.operators.chunking import with_document
from vexor_spark.operators import postings as postings_mod
from vexor_spark.operators.postings import corpus_stats, tokenize_docs
from vexor_spark.plans.docids import assign_doc_ids
from vexor_spark.plans.local import local_frame


def _write_meta(index_dir: Path, *, term_buckets: int, block_size: int,
                doc_count: int, avg_doc_len: float) -> None:
    (index_dir / "meta.json").write_text(json.dumps({
        "format_version": FORMAT_VERSION,
        "term_buckets": term_buckets,
        "block_size": block_size,
        "doc_count": doc_count,
        "avg_doc_len": avg_doc_len,
        "ub_avg_doc_len": avg_doc_len,
    }, indent=2))


def _write_docs_stats(doc_table: DataFrame, index_dir: Path,
                      doc_count: int, avgdl: float) -> None:
    doc_table.write.mode("overwrite").parquet(str(index_dir / "docs"))
    local_frame(
        doc_table.sparkSession, [(doc_count, avgdl)],
        "doc_count long, avg_doc_len double",
    ).write.mode("overwrite").parquet(str(index_dir / "stats"))


def full_merge(
    spark: SparkSession,
    work_dir: str | Path,
    index_dir: str | Path,
    *,
    term_buckets: int = 64,
    block_size: int = POSTING_BLOCK_SIZE,
) -> dict:
    """Chunk store → doc ids → tf → streamed blocks → full artifact
    rewrite (build_and_write_index's tail, reading stage-1 output).
    The new base holds the whole current corpus, so any segment layers
    are dropped once it is written (storage.drop_segment_layers)."""
    work_dir, index_dir = Path(work_dir), Path(index_dir)
    t0 = time.time()
    chunks = with_document(spark.read.parquet(str(work_dir / "chunks")).drop("bucket"))
    intermediates: list = []
    with_ids = assign_doc_ids(chunks, ["url", "chunk_index"], persisted_out=intermediates)
    docs = tokenize_docs(with_ids, "document")
    doc_table = docs.select(*DOC_COLS).persist()
    row = corpus_stats(doc_table.select("doc_id", "doc_len")).collect()[0]
    doc_count = int(row["doc_count"])
    avgdl = float(row["avg_doc_len"]) if row["avg_doc_len"] else 0.0
    for df_ in intermediates:
        df_.unpersist()
    tf = postings_mod.term_freqs_build(
        tokenize_docs(with_document(doc_table), "document")
        .select("doc_id", "doc_len", "tokens")
    )
    blocks = _sorted_block_rows(tf, avgdl if avgdl > 0 else 1.0, term_buckets, block_size).persist()
    blocks.write.mode("overwrite").partitionBy("term_bucket").parquet(
        str(index_dir / "postings")
    )
    blocks.groupBy("term", "term_bucket").agg(
        F.first("df").alias("df"), F.max("block_ub").alias("max_kernel")
    ).select("term", "term_bucket", "df", "max_kernel").write.mode(
        "overwrite"
    ).partitionBy("term_bucket").parquet(str(index_dir / "dict"))
    blocks.unpersist()
    _write_docs_stats(doc_table, index_dir, doc_count, avgdl)
    doc_table.unpersist()
    _write_meta(index_dir, term_buckets=term_buckets, block_size=block_size,
                doc_count=doc_count, avg_doc_len=avgdl)
    drop_segment_layers(index_dir)
    return {"action": "full", "docs": doc_count, "secs": round(time.time() - t0, 3)}
