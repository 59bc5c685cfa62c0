"""Delta segments — LSM-style index maintenance (round-4 addition).

WHY: an in-place posting merge touched every term bucket under any
diffuse change and cost 1.2-1.3× a full rebuild at 2M pages
(BENCH_R04_SCALE.json), so it was retired. Production engines answer
this with SEGMENTS (Lucene, Iceberg deletes): an update writes
a small delta artifact, queries merge layers at read time, and a
periodic compaction folds segments into the base. Update cost becomes
∝ the change, not the corpus.

Layout (under <index_dir>/):

    segments.json            manifest: ordered seg ids, per-seg stats,
                             base_len_sum / base_max_doc_id / next_doc_id
    _pending_update.json     durable staging marker (crash recovery):
                             changed buckets + target seg id, written
                             before stage-1's lineage commit and
                             cleared after the manifest commit
    segments/postings/seg=<n>/term_bucket=<b>/
                             block+varint rows — the SAME codec as the
                             base (round-5: row-format segments cost
                             2.5× read p50 at 2 segments)
    segments/docs/seg=<n>/   DOC_COLS rows for docs (re)written by seg n
    segments/tombstones/seg=<n>/
                             doc_id — kills that id in ALL LOWER layers
    segments/dfdelta/seg=<n>/term_bucket=<b>/
                             (term, df_new, df_removed)

    Each family is ONE sibling hive tree keyed by `seg`, so the read
    side is one partition-pruned scan + one max-tombstone-layer join
    per query — plan size and job count stay O(1) in segment count
    (per-layer subtrees cost ~0.35 s/segment of p50 at 2M before this
    layout, round 5).

Semantics:
- A changed input bucket tombstones every doc the current VIEW holds
  in that bucket and re-adds the bucket's current docs (stable ids:
  a surviving (url, chunk_index) keeps its id; new keys draw fresh ids
  from the manifest's next_doc_id counter — ids are never reused, so
  tombstones stay unambiguous).
- The read side is storage.PersistedIndex, which merges whatever
  layers segments.json names (`SegmentedIndex` here is an alias of
  it). Its search_distributed is EXACT over layers: scores equal a full
  rebuild of the current corpus (pinned by test_delta.py) because the
  BM25 statistics are merged exactly — df(term) = base df + Σ(df_new −
  df_removed), doc_count and avg_doc_len from the manifest's exact
  length sums — and stored per-block df columns are overridden by the
  merged map. (Doc IDS can differ from a from-scratch rebuild for new
  urls — the rebuild re-densifies — so parity is asserted on (url,
  score), with ties broken identically by each engine's doc_id order.)
- `compact_segments` folds everything into the base artifact via the
  existing full merge over the (already-current) chunk store and
  clears the segment list. `maintenance.update_index` calls it in place
  of a delta whose layer would exceed `max_segments` (no segment is
  written only to be folded), and after a call whose layers or
  tombstones are over budget.

Reference anchor: the reference's incremental update flow
(vexor/services/index_service.py:263-344), trading read-time layer
merging for update cost ∝ change size.
"""

from __future__ import annotations

import datetime as dt
import json
import shutil
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vexor_spark.functions.codec import POSTING_BLOCK_SIZE
from vexor_spark.index.checkpoint import (
    DEFAULT_INPUT_BUCKETS,
    _append_metrics,
    _bucket_col,
    build_chunks_resumable,
)
from vexor_spark.index.merge import full_merge
from vexor_spark.index.storage import (
    DOC_COLS,
    PersistedIndex,
    _manifest_path,
    _pending_path,
    _sorted_block_rows,
)
from vexor_spark.operators.chunking import with_document
from vexor_spark.operators import postings as postings_mod
from vexor_spark.operators.postings import tokenize_docs
from vexor_spark.plans.docids import assign_doc_ids
from vexor_spark.plans.local import local_frame


def resolve_pending_changes(index_dir: Path, stage1: dict, manifest: dict) -> list[int]:
    """Changed-bucket list for stage 2 — from the durable pending marker
    when one is outstanding (crash recovery: stage 1 committed lineage
    but the segment/manifest write never happened, so a plain retry
    would see 'no stale buckets' and silently drop the update), else
    from this run's stage-1 diff. A leftover marker whose segment ID
    already appears in the manifest is a completed update that crashed
    before cleanup — it is discarded, not re-applied."""
    pend = _pending_path(index_dir)
    pending = json.loads(pend.read_text()) if pend.exists() else None
    if pending and pending.get("seg") is not None and pending["seg"] in {
        s["seg"] for s in manifest["segments"]
    }:
        pend.unlink(missing_ok=True)
        pending = None
    if pending:
        return sorted(int(b) for b in pending["changed_buckets"])
    return sorted(list(stage1["stale_buckets"]) + list(stage1["removed_buckets"]))


class ConcurrentUpdateError(RuntimeError):
    """Another committer advanced the manifest generation first — the
    caller must reload the manifest and redo its update against the
    new view (update_index does this automatically, once)."""


def load_manifest(spark: SparkSession, index_dir: Path) -> dict:
    p = _manifest_path(index_dir)
    if p.exists():
        m = json.loads(p.read_text())
        m.setdefault("generation", 0)
        return m
    # first delta: snapshot the base's exact length sum and max id once
    base_docs = spark.read.parquet(str(index_dir / "docs"))
    row = base_docs.agg(
        F.sum("doc_len").alias("ls"), F.max("doc_id").alias("mx"),
        F.count("*").alias("n"),
    ).collect()[0]
    return {
        "segments": [],
        "generation": 0,
        "base_len_sum": int(row["ls"] or 0),
        "base_doc_count": int(row["n"]),
        "base_max_doc_id": int(row["mx"] if row["mx"] is not None else 0),
        "next_doc_id": int(row["mx"] if row["mx"] is not None else 0) + 1,
    }


def _save_manifest(
    index_dir: Path, manifest: dict, *, expected_gen: int | None = None
) -> None:
    """Manifest commit. With `expected_gen`, the write is an optimistic
    COMPARE-AND-SWAP (Iceberg's commit model, round-5 verdict item 8):
    the committer that exclusively creates the `_gen.<g+1>.lock` marker
    owns the g→g+1 transition and atomically renames the new manifest
    in; a second committer holding the same expected generation hits
    the existing marker and gets ConcurrentUpdateError — it must reload
    and redo, never silently clobber. Gen markers persist for the life
    of the segment epoch (compaction/rebuild clears them with the
    manifest), so a stale committer from ANY older generation also
    fails its CAS."""
    import os

    path = _manifest_path(index_dir)
    if expected_gen is None:  # single-writer callers (tests, tools)
        path.write_text(json.dumps(manifest, indent=1))
        return
    new_gen = int(expected_gen) + 1
    lock = index_dir / f"_gen.{new_gen}.lock"
    try:
        fd = os.open(str(lock), os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        os.close(fd)
    except FileExistsError:
        raise ConcurrentUpdateError(
            f"manifest generation {expected_gen} -> {new_gen} already "
            f"committed by another updater ({lock.name} exists)"
        ) from None
    out = {**manifest, "generation": new_gen}
    tmp = path.with_name(path.name + f".tmp.{os.getpid()}")
    tmp.write_text(json.dumps(out, indent=1))
    os.replace(tmp, path)


def _reserve_seg_id(index_dir: Path, start: int) -> int:
    """Exclusively reserve a segment id via O_EXCL marker files so two
    concurrent updaters never write the same segments/*/seg=<n> tree —
    the manifest CAS alone cannot prevent the loser from having
    clobbered the winner's files before its commit fails."""
    import os

    seg_root = index_dir / "segments"
    seg_root.mkdir(parents=True, exist_ok=True)
    sid = int(start)
    while True:
        try:
            fd = os.open(
                str(seg_root / f"_seg.{sid}.reserved"),
                os.O_CREAT | os.O_EXCL | os.O_WRONLY,
            )
            os.close(fd)
            return sid
        except FileExistsError:
            sid += 1


def delta_update(
    pages: DataFrame,
    work_dir: str | Path,
    index_dir: str | Path,
    *,
    n_buckets: int = DEFAULT_INPUT_BUCKETS,
) -> dict:
    """Apply the pages snapshot as a DELTA SEGMENT: stage-1 staleness
    detection re-chunks only changed input buckets; the segment carries
    those buckets' current postings (block+varint encoded, same format
    as the base — segments read like a small base layer), tombstones
    for the view's previous docs there, and exact df/length
    corrections. Touches NOTHING under base postings/ or dict/. Cost ∝
    changed buckets (tokenize + one small shuffle), not corpus size.

    Crash-safe: the changed-bucket set is durably staged (stage 1
    writes the pending marker before committing lineage; this function
    clears it only after the manifest commit), so a crash anywhere in
    between resumes the unfinished segment on retry instead of
    treating the already-current chunk store as already applied."""
    work_dir, index_dir = Path(work_dir), Path(index_dir)
    spark = pages.sparkSession
    t0 = time.time()
    stage1 = build_chunks_resumable(
        pages, work_dir, n_buckets=n_buckets, pending_file=_pending_path(index_dir)
    )
    manifest = load_manifest(spark, index_dir)
    changed = resolve_pending_changes(index_dir, stage1, manifest)
    if not changed:
        return {
            "action": "noop", "secs": round(time.time() - t0, 3),
            "segments": len(manifest["segments"]),
        }
    return _apply_delta_retrying(
        spark, work_dir, index_dir, changed,
        stage1=stage1, manifest=manifest, n_buckets=n_buckets, t0=t0,
    )


def _write_term_tree(frame: DataFrame, path: Path, *, empty: bool) -> None:
    """Write a segment family partitioned by term_bucket. An empty
    partitioned write leaves a dir with no files, which neither Spark
    nor pyarrow can scan (a segment that only removes docs has no
    postings), so an empty frame is written as one schema-only file
    under term_bucket=0."""
    if empty:
        frame.drop("term_bucket").write.mode("overwrite").parquet(
            str(path / "term_bucket=0")
        )
    else:
        frame.write.mode("overwrite").partitionBy("term_bucket").parquet(str(path))


def _apply_delta(
    spark: SparkSession,
    work_dir: Path,
    index_dir: Path,
    changed: list[int],
    *,
    stage1: dict,
    manifest: dict,
    n_buckets: int,
    t0: float,
) -> dict:
    """Segment build proper (see delta_update): assumes the chunk store
    is current and `changed` names the input buckets to re-index."""
    meta = json.loads((index_dir / "meta.json").read_text())
    term_buckets = int(meta["term_buckets"])

    view = PersistedIndex(spark, index_dir, manifest=manifest)
    old_changed = (
        view.docs_view()
        .withColumn("bucket", _bucket_col(F.col("url"), n_buckets))
        .filter(F.col("bucket").isin([int(b) for b in changed]))
        .persist()
    )

    chunks_dir = work_dir / "chunks"
    present = [b for b in changed if (chunks_dir / f"bucket={b}").exists()]
    if present:
        new_chunks = (
            spark.read.option("basePath", str(chunks_dir))
            .parquet(*[str(chunks_dir / f"bucket={b}") for b in present])
            .drop("bucket")
        )
    else:  # every changed bucket was removed outright
        new_chunks = local_frame(
            spark,
            [],
            "url string, chunk_index int, label string, preview string, "
            "start_line int, end_line int",
        )

    # stable ids: surviving (url, chunk_index) keeps its id; fresh keys
    # draw from next_doc_id (ids never reused — tombstones stay sharp).
    old_keyed = old_changed.select(
        F.col("doc_id").alias("_old_id"), "url", "chunk_index"
    )
    joined = new_chunks.join(old_keyed, ["url", "chunk_index"], "left").persist()
    kept = joined.filter(F.col("_old_id").isNotNull()).withColumn(
        "doc_id", F.col("_old_id")
    )
    fresh_src = joined.filter(F.col("_old_id").isNull())
    id_intermediates: list = []
    # assign_doc_ids is 0-based: fresh ids are next_doc_id, next+1, ...
    fresh = assign_doc_ids(
        fresh_src.drop("_old_id"), ["url", "chunk_index"],
        id_col="_seq", persisted_out=id_intermediates,
    ).withColumn(
        "doc_id", F.col("_seq") + F.lit(int(manifest["next_doc_id"]))
    ).drop("_seq")
    seg_rows = kept.drop("_old_id").unionByName(fresh)
    seg_docs = tokenize_docs(with_document(seg_rows), "document").persist()

    stats_new = seg_docs.agg(
        F.count("*").alias("n"), F.coalesce(F.sum("doc_len"), F.lit(0)).alias("ls"),
        F.max("doc_id").alias("mx"),
    ).collect()[0]
    stats_old = old_changed.agg(
        F.count("*").alias("n"), F.coalesce(F.sum("doc_len"), F.lit(0)).alias("ls"),
    ).collect()[0]

    seg_id = _reserve_seg_id(
        index_dir,
        (manifest["segments"][-1]["seg"] + 1) if manifest["segments"] else 1,
    )
    seg_root = index_dir / "segments"
    # layout: sibling hive trees keyed by seg (segments/postings/seg=N/
    # term_bucket=B, segments/docs/seg=N, ...) so the READ side is ONE
    # partition-pruned scan per tree regardless of layer count — plan
    # size and job count stay O(1) in segments (round-5: per-layer
    # subtrees made serving p50 grow ~0.35 s per segment at 2M).
    for sub in ("postings", "docs", "tombstones", "dfdelta"):
        shutil.rmtree(seg_root / sub / f"seg={seg_id}", ignore_errors=True)
    # Stage intent durably BEFORE the segment files: a crash below
    # resumes this exact segment; once the manifest commit lands, the
    # seg id in the marker tells the retry it already applied.
    _pending_path(index_dir).write_text(json.dumps({
        "changed_buckets": [int(b) for b in changed], "seg": seg_id,
    }, indent=1))

    tf_new = postings_mod.term_freqs_build(
        seg_docs.select("doc_id", "doc_len", "tokens")
    ).persist()
    tb = F.pmod(F.xxhash64("term"), F.lit(term_buckets)).cast("int")
    # Segment postings take the SAME block+varint form as the base
    # (encoded with the base's ub basis): the read path decodes base
    # and segment layers uniformly, and the row-format read overhead
    # that made 2 segments cost 2.5× p50 in round 4 is gone — a
    # segment is just a small extra set of block rows per term bucket.
    basis = float(meta.get("ub_avg_doc_len", meta.get("avg_doc_len", 1.0)) or 1.0)
    block_size = int(meta.get("block_size", POSTING_BLOCK_SIZE))
    _write_term_tree(
        _sorted_block_rows(tf_new, basis, term_buckets, block_size),
        seg_root / "postings" / f"seg={seg_id}", empty=not stats_new["n"],
    )
    seg_docs.select(*DOC_COLS).write.mode("overwrite").parquet(
        str(seg_root / "docs" / f"seg={seg_id}")
    )
    old_changed.select("doc_id").write.mode("overwrite").parquet(
        str(seg_root / "tombstones" / f"seg={seg_id}")
    )
    # exact df corrections: +new docs per term, −view docs per term
    df_new = tf_new.groupBy("term").agg(F.count("*").alias("df_new"))
    df_rem = (
        tokenize_docs(with_document(old_changed), "document")
        .select("doc_id", F.explode(F.array_distinct("tokens")).alias("term"))
        .groupBy("term").agg(F.count("*").alias("df_removed"))
    )
    _write_term_tree(
        df_new.join(df_rem, "term", "full")
        .select(
            "term", tb.alias("term_bucket"),
            F.coalesce("df_new", F.lit(0)).cast("long").alias("df_new"),
            F.coalesce("df_removed", F.lit(0)).cast("long").alias("df_removed"),
        )
        .repartition("term_bucket").sortWithinPartitions("term"),
        seg_root / "dfdelta" / f"seg={seg_id}",
        empty=not (stats_new["n"] or stats_old["n"]),
    )

    rec = {
        "seg": seg_id,
        "format": "blocks",
        "n_new": int(stats_new["n"]),
        "n_removed": int(stats_old["n"]),
        "len_new": int(stats_new["ls"]),
        "len_removed": int(stats_old["ls"]),
        "changed_buckets": [int(b) for b in changed],
    }
    tf_new.unpersist()
    old_changed.unpersist()
    joined.unpersist()
    seg_docs.unpersist()
    for df_ in id_intermediates:
        df_.unpersist()

    manifest["segments"].append(rec)
    if stats_new["mx"] is not None:
        manifest["next_doc_id"] = max(
            int(manifest["next_doc_id"]), int(stats_new["mx"]) + 1
        )
    try:
        _save_manifest(
            index_dir, manifest, expected_gen=int(manifest.get("generation", 0))
        )
    except ConcurrentUpdateError:
        # the loser's segment files are orphans computed against a
        # stale view — remove them (the reserved id is ours alone, so
        # this touches nothing of the winner's) and surface the
        # conflict; update_index retries against the fresh manifest.
        for sub in ("postings", "docs", "tombstones", "dfdelta"):
            shutil.rmtree(seg_root / sub / f"seg={seg_id}", ignore_errors=True)
        (seg_root / f"_seg.{seg_id}.reserved").unlink(missing_ok=True)
        raise
    _pending_path(index_dir).unlink(missing_ok=True)
    out = {
        "action": "delta",
        "seg": seg_id,
        "segments": len(manifest["segments"]),
        "docs_written": rec["n_new"],
        "docs_tombstoned": rec["n_removed"],
        "secs": round(time.time() - t0, 3),
        "stage1": {
            k: stage1[k]
            for k in ("buckets_total", "buckets_built", "buckets_removed", "pages_built")
        },
    }
    _append_metrics(work_dir, {
        "stage": "delta_update",
        "at": dt.datetime.now(dt.timezone.utc).isoformat(),
        **{k: v for k, v in out.items() if k != "stage1"},
    })
    return out


def _apply_delta_retrying(
    spark: SparkSession,
    work_dir: Path,
    index_dir: Path,
    changed: list[int],
    *,
    stage1: dict,
    manifest: dict,
    n_buckets: int,
    t0: float,
) -> dict:
    """_apply_delta, redone ONCE against a freshly loaded manifest when
    another updater wins the generation CAS — the loser's change set is
    still staged in the pending marker, so the retry recomputes
    tombstones/ids/df against the winner's committed view."""
    try:
        return _apply_delta(
            spark, work_dir, index_dir, changed,
            stage1=stage1, manifest=manifest, n_buckets=n_buckets, t0=t0,
        )
    except ConcurrentUpdateError:
        manifest = load_manifest(spark, index_dir)
        changed = resolve_pending_changes(index_dir, stage1, manifest)
        if not changed:
            return {
                "action": "noop", "secs": round(time.time() - t0, 3),
                "segments": len(manifest["segments"]),
                "retried_after_conflict": True,
            }
        out = _apply_delta(
            spark, work_dir, index_dir, changed,
            stage1=stage1, manifest=manifest, n_buckets=n_buckets, t0=t0,
        )
        out["retried_after_conflict"] = True
        return out


# The reader lives in storage.py; this name stays for existing callers.
SegmentedIndex = PersistedIndex


def compact_segments(
    spark: SparkSession,
    work_dir: str | Path,
    index_dir: str | Path,
    *,
    term_buckets: int | None = None,
) -> dict:
    """Fold all segments into the base artifact (full merge over the
    already-current chunk store) and clear the segment list — the LSM
    compaction step; run it when read-time layer count or tombstone
    volume crosses the serving budget."""
    work_dir, index_dir = Path(work_dir), Path(index_dir)
    meta = json.loads((index_dir / "meta.json").read_text())
    tb = term_buckets or int(meta["term_buckets"])
    bs = int(meta.get("block_size", POSTING_BLOCK_SIZE))
    manifest = load_manifest(spark, index_dir)
    n = len(manifest["segments"])
    # full_merge drops the segment trees, manifest and gen markers once
    # the new base is written; a pending marker from a crashed delta is
    # subsumed too — the full merge re-read the current chunk store,
    # change included.
    summary = full_merge(spark, work_dir, index_dir, term_buckets=tb, block_size=bs)
    summary["action"] = "compact_segments"
    summary["segments_folded"] = n
    return summary
