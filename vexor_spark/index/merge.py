"""Incremental maintenance of the persisted index artifact.

The reference's incremental build re-embeds only changed files, then
rewrites positions and rebuilds the SQLite tables
(vexor/services/index_service.py:263-344, cache.py:983-994, with a
full-rebuild policy switch when more than half the corpus changed,
index_service.py:29). The distributed analog here makes stage-2 work
proportional to the CHANGE, not the corpus:

1. Stage 1 (checkpoint.build_chunks_resumable) re-chunks only stale
   input buckets — unchanged parquet partitions are not rewritten.
2. Change-ratio policy (A8): if more than `rebuild_ratio` of the input
   buckets changed, incrementality can't pay for its bookkeeping — run
   the full merge (the reference's `max_incremental_ratio = 0.5`).
3. Ordering repair + stability check: doc ids are positions in the
   (url, chunk_index) order, so ANY insertion/removal that precedes a
   surviving doc shifts its id and invalidates every posting that
   mentions it. The repair itself (assign_doc_ids) is a metadata-only
   shuffle — no tokenization — and bounds the check's cost; if any
   unchanged-bucket doc moved, we fall back to the full merge and say
   so in metrics (`ordering_shift`). Append-at-end ingests and
   in-place page edits keep ids stable, which is the common crawl-feed
   shape (new urls sort after old snapshots or replace them 1:1).
4. Stable case: tokenize ONLY changed docs (new versions from the
   chunk store, old versions from the persisted doc table — both
   ∝ changed buckets), derive the affected term-hash buckets, decode
   just those postings partitions, drop removed doc ids, union the new
   tf rows, re-encode with the streaming sorted writer, and
   dynamic-partition-overwrite ONLY the affected `term_bucket=` dirs.
   Posting blobs are (doc_id, tf, doc_len) — avgdl-independent — so
   untouched partitions stay byte-identical to a from-scratch build.

Upper-bound staleness: block_ub / max_kernel bake in the avg doc
length at encode time. Kernels grow monotonically with avgdl, and
k(a2)/k(a1) ≤ a2/a1, so queries inflate stored bounds by
max(1, avgdl_now / ub_basis) (PersistedIndex.ub_factor) — pruning
stays exact under drift; the basis is recorded in meta.json and reset
by every full merge.
"""

from __future__ import annotations

import datetime as dt
import json
import shutil
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vexor_spark.functions.codec import POSTING_BLOCK_SIZE, explode_blocks_rows
from vexor_spark.index.checkpoint import (
    DEFAULT_INPUT_BUCKETS,
    _append_metrics,
    _bucket_col,
    build_chunks_resumable,
)
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

REBUILD_RATIO = 0.5  # reference index_service.py:29 max_incremental_ratio


def _write_meta(index_dir: Path, *, term_buckets: int, block_size: int,
                doc_count: int, avg_doc_len: float, ub_basis: float) -> None:
    (index_dir / "meta.json").write_text(json.dumps({
        "format_version": FORMAT_VERSION,
        "term_buckets": term_buckets,
        "block_size": block_size,
        "doc_count": doc_count,
        "avg_doc_len": avg_doc_len,
        "ub_avg_doc_len": ub_basis,
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
                doc_count=doc_count, avg_doc_len=avgdl, ub_basis=avgdl)
    drop_segment_layers(index_dir)
    return {"action": "full", "docs": doc_count, "secs": round(time.time() - t0, 3)}


def _incremental_merge(
    spark: SparkSession,
    work_dir: Path,
    index_dir: Path,
    changed_buckets: list[int],
    *,
    n_buckets: int,
    term_buckets: int,
    block_size: int,
) -> dict | None:
    """Stable-id incremental merge; None ⇒ ids shifted, caller must run
    the full merge."""
    t0 = time.time()
    meta = json.loads((index_dir / "meta.json").read_text())
    basis = float(meta.get("ub_avg_doc_len", meta["avg_doc_len"]) or 1.0)
    old_docs = spark.read.parquet(str(index_dir / "docs"))
    chunks = spark.read.parquet(str(work_dir / "chunks"))
    changed = [int(b) for b in changed_buckets]

    intermediates: list = []
    with_ids = assign_doc_ids(chunks, ["url", "chunk_index"], persisted_out=intermediates)

    def cleanup():
        for df_ in intermediates:
            df_.unpersist()

    unchanged_new = with_ids.filter(~F.col("bucket").isin(changed))
    changed_new = with_ids.filter(F.col("bucket").isin(changed))
    old_keyed = old_docs.select(
        F.col("doc_id").alias("_old_id"), "url", "chunk_index",
        F.col("doc_len").alias("_old_dl"),
    )
    joined = unchanged_new.join(old_keyed, ["url", "chunk_index"], "left").persist()
    shifted = joined.filter(
        F.col("_old_id").isNull() | (F.col("_old_id") != F.col("doc_id"))
    ).count()
    if shifted:
        joined.unpersist()
        cleanup()
        return None

    changed_tok = tokenize_docs(with_document(changed_new), "document").persist()
    doc_table = (
        joined.withColumn("doc_len", F.col("_old_dl"))
        .select(*DOC_COLS)
        .unionByName(changed_tok.select(*DOC_COLS))
        .persist()
    )
    row = corpus_stats(doc_table.select("doc_id", "doc_len")).collect()[0]
    doc_count = int(row["doc_count"])
    avgdl = float(row["avg_doc_len"]) if row["avg_doc_len"] else 0.0

    # Old versions of every doc in a changed (stale or removed) bucket:
    # their posting rows must leave the index, and their terms mark
    # affected term buckets. Work ∝ changed docs (tokenize old labels).
    old_changed = old_docs.withColumn(
        "bucket", _bucket_col(F.col("url"), n_buckets)
    ).filter(F.col("bucket").isin(changed))
    removed_ids = old_changed.select("doc_id")
    old_terms = (
        tokenize_docs(with_document(old_changed), "document")
        .select(F.explode("tokens").alias("term"))
        .distinct()
    )
    tf_new = postings_mod.term_freqs_build(
        changed_tok.select("doc_id", "doc_len", "tokens")
    )
    # Terms whose postings can change = terms of new/changed docs ∪
    # terms of the removed old docs. Everything else in an affected
    # bucket passes through BYTE-IDENTICAL (no decode, no re-encode):
    # merge CPU is ∝ Σ|postings of affected terms|, not ∝ the affected
    # buckets' total postings — at web vocabularies (mostly tail terms)
    # that is the difference between touching a bucket's whole term
    # range and only the terms the change actually names.
    affected_terms = (
        tf_new.select("term").distinct().union(old_terms).distinct().persist()
    )
    affected = sorted(
        int(r["b"])
        for r in affected_terms
        .select(F.pmod(F.xxhash64("term"), F.lit(term_buckets)).cast("int").alias("b"))
        .distinct()
        .collect()
    )

    produced: set[int] = set()
    if affected:
        old_block_rows = spark.read.parquet(str(index_dir / "postings")).filter(
            F.col("term_bucket").isin(affected)
        )
        passthrough = old_block_rows.join(affected_terms, "term", "left_anti")
        old_rows = explode_blocks_rows(
            old_block_rows.join(affected_terms, "term", "left_semi")
        ).select(
            "term",
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("tf").cast("int").alias("tf"),
            F.col("doc_len").cast("int").alias("doc_len"),
        )
        surviving = old_rows.join(removed_ids, "doc_id", "left_anti")
        merged_tf = surviving.unionByName(
            tf_new.select(
                "term",
                F.col("doc_id").cast("long").alias("doc_id"),
                F.col("tf").cast("int").alias("tf"),
                F.col("doc_len").cast("int").alias("doc_len"),
            )
        )
        # Encode with the ORIGINAL ub basis so merged partitions stay
        # consistent with untouched ones; queries correct for drift via
        # ub_factor (module docstring). Unaffected terms rejoin as raw
        # block rows (df unchanged by construction: any doc whose
        # removal could change a term's df marks that term affected).
        blocks = (
            _sorted_block_rows(merged_tf, basis, term_buckets, block_size)
            .unionByName(passthrough.select(
                "term", "term_bucket", "df", "block_id", "n",
                "block_first", "block_last", "block_ub", "blob",
            ))
            .persist()
        )
        prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            blocks.write.mode("overwrite").partitionBy("term_bucket").parquet(
                str(index_dir / "postings")
            )
            blocks.groupBy("term", "term_bucket").agg(
                F.first("df").alias("df"), F.max("block_ub").alias("max_kernel")
            ).select("term", "term_bucket", "df", "max_kernel").write.mode(
                "overwrite"
            ).partitionBy("term_bucket").parquet(str(index_dir / "dict"))
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
        produced = {int(r["term_bucket"]) for r in blocks.select("term_bucket").distinct().collect()}
        blocks.unpersist()
        # A bucket whose every term vanished produces no rows: dynamic
        # overwrite leaves its old partition behind — drop it explicitly
        # (an Iceberg REPLACE PARTITIONS would do this transactionally).
        for b in set(affected) - produced:
            shutil.rmtree(index_dir / "postings" / f"term_bucket={b}", ignore_errors=True)
            shutil.rmtree(index_dir / "dict" / f"term_bucket={b}", ignore_errors=True)

    _write_docs_stats(doc_table, index_dir, doc_count, avgdl)
    _write_meta(index_dir, term_buckets=term_buckets, block_size=block_size,
                doc_count=doc_count, avg_doc_len=avgdl, ub_basis=basis)
    joined.unpersist()
    changed_tok.unpersist()
    doc_table.unpersist()
    affected_terms.unpersist()
    cleanup()
    return {
        "action": "incremental",
        "docs": doc_count,
        "affected_term_buckets": len(affected),
        "term_buckets_total": term_buckets,
        "emptied_term_buckets": len(set(affected) - produced),
        "secs": round(time.time() - t0, 3),
    }


def update_persisted_index(
    pages: DataFrame,
    work_dir: str | Path,
    index_dir: str | Path,
    *,
    n_buckets: int = DEFAULT_INPUT_BUCKETS,
    term_buckets: int = 64,
    block_size: int = POSTING_BLOCK_SIZE,
    rebuild_ratio: float = REBUILD_RATIO,
) -> dict:
    """End-to-end incremental update: stage 1 re-chunks stale buckets,
    stage 2 merges postings for affected term buckets only — or falls
    back to the full merge per the change-ratio policy (> rebuild_ratio
    of input buckets changed, reference index_service.py:29) or when
    the ordering repair shifted surviving doc ids.

    PREFER `index.maintenance.update_index` (round 5): it measures the
    change's term-bucket footprint and routes diffuse changes to delta
    segments instead — the 2M campaign measured THIS in-place path at
    1.3× a full rebuild under diffuse change (every page carries unique
    tail terms, so all term buckets get touched) while delta costs
    0.13×. This function remains the concentrated-change mechanism the
    router dispatches to, and the building block for full rebuilds."""
    work_dir, index_dir = Path(work_dir), Path(index_dir)
    spark = pages.sparkSession
    stage1 = build_chunks_resumable(pages, work_dir, n_buckets=n_buckets)
    changed = list(stage1["stale_buckets"]) + list(stage1["removed_buckets"])
    ratio = (len(changed) / stage1["buckets_total"]) if stage1["buckets_total"] else 1.0

    have_index = (index_dir / "meta.json").exists()
    reason = None
    summary: dict | None = None
    if not have_index:
        reason = "no_existing_index"
    elif not changed:
        meta = json.loads((index_dir / "meta.json").read_text())
        summary = {"action": "noop", "docs": meta["doc_count"], "secs": 0.0}
    elif ratio > rebuild_ratio:
        reason = f"change_ratio {ratio:.2f} > {rebuild_ratio}"
    else:
        summary = _incremental_merge(
            spark, work_dir, index_dir, changed,
            n_buckets=n_buckets, term_buckets=term_buckets, block_size=block_size,
        )
        if summary is None:
            reason = "ordering_shift"
    if summary is None:
        summary = full_merge(
            spark, work_dir, index_dir,
            term_buckets=term_buckets, block_size=block_size,
        )
        summary["reason"] = reason
    summary["stage1"] = {
        k: stage1[k]
        for k in ("buckets_total", "buckets_built", "buckets_removed", "pages_built")
    }
    summary["change_ratio"] = round(ratio, 4)
    _append_metrics(work_dir, {
        "stage": "index_update",
        "at": dt.datetime.now(dt.timezone.utc).isoformat(),
        **{k: v for k, v in summary.items() if k != "stage1"},
    })
    return summary
