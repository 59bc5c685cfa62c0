"""Persisted index artifact + query paths (format v2: block-level).

Layout (Parquet stand-in for Iceberg — the sandbox has no Iceberg jars;
the layer is kept behind this module so the table format can be swapped,
SURVEY §7 Phase 2):

    <index_dir>/
      meta.json    format_version, term_buckets, block_size,
                   doc_count, avg_doc_len
      dict/        partitioned by term_bucket:
                   (term, df, max_kernel)           — one row per term
      postings/    partitioned by term_bucket:
                   (term, df, block_id, n, block_first, block_last,
                    block_ub, blob)                 — one row per BLOCK
      docs/        (doc_id, url, chunk_index, preview, lines, doc_len)
      stats/       (doc_count, avg_doc_len)                 — one row, in
                   one file (written from a LocalRelation)
      segments.json, segments/
                   live delta-segment layers over the base (written by
                   delta.py, layout in its docstring); absent = the
                   base is the whole view

Posting lists are cut into fixed-size blocks, each independently
delta-gap+varint encoded and carrying its doc-id range and max BM25
contribution kernel. Partitioning by pmod(xxhash64(term), B) is the
distributed analog of the reference's PK term seek
(vexor/cache.py:437-443,476-477): a query's ≤32 terms prune to ≤32
bucket dirs; Parquet row-group min/max stats on `term` skip within a
bucket; block rows let block-max pruning skip work BEFORE decoding.

`PersistedIndex` is the one reader: a view over the base plus however
many segment layers are live (zero after a build or a compaction).

Query paths — one single-query path with two executors, both exact
over any number of live layers (segment blocks join in, df is the
merged df, tombstoned postings die at decode time):
- driver executor (`search_local`) — zero Spark jobs: Python XXH64
  buckets the terms, pyarrow reads only those partitions of the base
  and segment trees, numpy decodes and scores into a dense accumulator
  (the analog of vexor/cache.py:1492-1535 → bm25.score_postings).
  prune=True is exact term-at-a-time max-score pruning.
- executor route — decode matched blocks executor-side, explode,
  column-arithmetic BM25, one groupBy(doc_id); with prune=True,
  block-max pruning (exact, see wand.py): a θ lower bound from the
  highest-impact term's own top-k, candidate generation from only the
  blocks whose upper bound can reach θ, exact rescore restricted to
  candidates.
- `search_distributed` routes per query on driver-held metadata: the
  driver executor when Σ merged df over the present terms ≤
  DRIVER_MAX_POSTINGS (its ≤k rows come back as a LocalRelation, so the
  query starts no Spark job), the executor route otherwise or when the
  tombstone map exceeds the driver budget.
- `search_distributed_multi` — a whole query batch in one job, always on
  the executors, over the same layered block frame.

Writers that replace the base (`write_index`, `build_and_write_index`,
merge.full_merge) drop any segment layers left over from the old base.
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vexor_spark.constants import SCORE_ROUND_DP
from vexor_spark.functions.codec import (
    POSTING_BLOCK_SIZE,
    make_encode_blocks_udf,
    max_kernel_col,
)
from vexor_spark.functions.tokenize import prepare_query_terms
from vexor_spark.index.build import InMemoryIndex
from vexor_spark.operators.scoring import bm25_contribution_col, top_k
from vexor_spark.plans.local import local_frame

FORMAT_VERSION = 2  # plays the role of CACHE_VERSION (vexor/cache.py:28)

# search_distributed's routing rule: a query whose Σ merged df over its
# present terms is at most this many postings runs on the driver
# executor, larger ones on the Spark executors. Measured on a 4-core
# Xeon VM, local[4], cold caches (a fresh PersistedIndex per call),
# head-class and 2-12-term queries, median process-tree CPU of 3 calls
# (10 ms clock ticks), driver vs executor route:
#   1000 pages (1,326 docs, 16 term buckets), Σdf 286 → 13,073:
#     driver 10-30 CPU-ms (8-25 ms wall), executor 820-1,960 CPU-ms
#     (495-964 ms wall);
#   20,000 pages (22,504 docs, 64 term buckets), Σdf 75 → 225,749:
#     driver 10-80 CPU-ms (11-64 ms wall), executor 910-1,940 CPU-ms
#     (521-1,017 ms wall).
# The driver won at every measured volume (its cost grows ~0.3 CPU-ms
# per 1k postings, the executor's is a flat job overhead), so the bound
# sits at the largest volume measured, 225,749, rounded down.
DRIVER_MAX_POSTINGS = 225_000

# search_distributed's result schema on both routes (top_k's, nullability
# included)
RANKED_SCHEMA = "rank long not null, doc_id long, score double"

DOC_COLS = [
    "doc_id", "url", "chunk_index", "label", "preview",
    "start_line", "end_line", "doc_len",
]


def _manifest_path(index_dir: Path) -> Path:
    return index_dir / "segments.json"


def _pending_path(index_dir: Path) -> Path:
    return index_dir / "_pending_update.json"


def live_doc_count(manifest: dict) -> int:
    """Docs in the layered view a segment manifest describes: the
    base's docs plus every live segment's net change."""
    return manifest["base_doc_count"] + sum(
        s["n_new"] - s["n_removed"] for s in manifest["segments"]
    )


def drop_segment_layers(index_dir: Path) -> None:
    """Remove every delta-segment artifact: the segment trees, the
    manifest, its generation markers (the next epoch restarts at 0) and
    the pending-update marker. Writers that replace the base call this
    once the new base is written — layers computed against the old base
    must never merge over a new one."""
    shutil.rmtree(index_dir / "segments", ignore_errors=True)
    _manifest_path(index_dir).unlink(missing_ok=True)
    for p in index_dir.glob("_gen.*.lock"):
        p.unlink(missing_ok=True)
    _pending_path(index_dir).unlink(missing_ok=True)


def _topk_np(ids, scores, k: int, *, round_dp: int | None = None) -> list[tuple[int, int, float]]:
    """[(rank, doc_id, score)] by (score desc, doc_id asc) — the
    argpartition-then-sort trick (search_service.py:176-182).
    round_dp rounds BEFORE ranking (the public ranking contract —
    np.round is half-even, identical to Spark's HALF_UP on doubles
    because decimal midpoints are not representable in binary)."""
    import numpy as np

    if len(ids) == 0:
        return []
    if round_dp is not None:
        scores = np.round(scores, round_dp)
    if k < len(ids):
        kth = np.partition(scores, len(scores) - k)[len(scores) - k]
        cand = np.flatnonzero(scores >= kth)  # includes ALL kth-score ties
    else:
        cand = np.arange(len(ids))
    order = sorted(cand.tolist(), key=lambda i: (-scores[i], ids[i]))[:k]
    return [(r + 1, int(ids[i]), float(scores[i])) for r, i in enumerate(order)]


def term_buckets_for(spark: SparkSession, terms: list[str], term_buckets: int) -> dict[str, int]:
    """Buckets for query terms — pure-Python XXH64 (verified identical to
    Spark's xxhash64, test_hashing.py), no JVM round-trip."""
    from vexor_spark.functions.hashing import spark_pmod_bucket

    return {t: spark_pmod_bucket(t, term_buckets) for t in terms}


def _sorted_block_rows(
    tf: DataFrame,
    avg_doc_len: float,
    term_buckets: int,
    block_size: int,
) -> DataFrame:
    """tf(doc_id, doc_len, term, tf) → block rows via ONE repartition +
    partition-local sort + streaming Arrow encoder — the scale path:
    no per-term array objects ever exist in the JVM, a term's postings
    stream through the Python worker in sorted order and leave as
    fixed-size encoded blocks. (The collect_list path materializes each
    term's whole list as one JVM row — fine for medium vocabularies,
    hostile to head terms at 10^12 docs.)
    """
    import numpy as np
    import pandas as pd

    from vexor_spark.constants import BM25_B, BM25_K1
    from vexor_spark.functions.codec import encode_posting_list

    out_schema = (
        "term string, term_bucket int, df long, block_id int, n int, "
        "block_first long, block_last long, block_ub double, blob binary"
    )

    def encode_stream(batches):
        carry: dict | None = None  # {"term", "bucket", ids, tfs, dls}

        def emit(term: str, bucket: int, ids, tfs, dls) -> list[dict]:
            rows = []
            df_ = len(ids)
            tf_arr = np.asarray(tfs, np.float64)
            dl_arr = np.asarray(dls, np.float64)
            kernels = (
                tf_arr
                * (BM25_K1 + 1.0)
                / (tf_arr + BM25_K1 * (1.0 - BM25_B + BM25_B * dl_arr / avg_doc_len))
            )
            for bi in range(0, df_, block_size):
                sl = slice(bi, bi + block_size)
                bids, btfs, bdls = ids[sl], tfs[sl], dls[sl]
                rows.append(
                    {
                        "term": term,
                        "term_bucket": bucket,
                        "df": df_,
                        "block_id": bi // block_size,
                        "n": len(bids),
                        "block_first": int(bids[0]),
                        "block_last": int(bids[-1]),
                        "block_ub": float(kernels[sl].max()),
                        "blob": encode_posting_list(list(zip(bids, btfs, bdls))),
                    }
                )
            return rows

        for batch in batches:
            out_rows: list[dict] = []
            for term, grp in batch.groupby("term", sort=False):
                ids = grp["doc_id"].tolist()
                tfs = grp["tf"].tolist()
                dls = grp["doc_len"].tolist()
                bucket = int(grp["term_bucket"].iloc[0])
                if carry is not None and carry["term"] == term:
                    ids = carry["ids"] + ids
                    tfs = carry["tfs"] + tfs
                    dls = carry["dls"] + dls
                elif carry is not None:
                    out_rows.extend(
                        emit(carry["term"], carry["bucket"], carry["ids"], carry["tfs"], carry["dls"])
                    )
                carry = {"term": term, "bucket": bucket, "ids": ids, "tfs": tfs, "dls": dls}
            # hold the last group — it may continue in the next batch
            if out_rows:
                yield pd.DataFrame(out_rows)
        if carry is not None:
            yield pd.DataFrame(
                emit(carry["term"], carry["bucket"], carry["ids"], carry["tfs"], carry["dls"])
            )

    bucketed = tf.withColumn(
        "term_bucket", F.pmod(F.xxhash64("term"), F.lit(term_buckets)).cast("int")
    )
    sorted_df = bucketed.repartition(F.col("term_bucket")).sortWithinPartitions(
        "term", "doc_id"
    )
    return sorted_df.mapInPandas(encode_stream, out_schema)


def write_index(
    index: InMemoryIndex,
    index_dir: str | Path,
    *,
    block_size: int = POSTING_BLOCK_SIZE,
    strategy: str = "sorted",
) -> None:
    """strategy='sorted' (default): stream-encode from tf via
    repartition+sort (scale path). strategy='arrays': encode the
    in-memory posting arrays (needs index.postings materialized)."""
    index_dir = Path(index_dir)
    avgdl = index.avg_doc_len if index.avg_doc_len > 0 else 1.0
    if strategy == "sorted":
        from vexor_spark.operators.postings import tf_from_doc_table

        tf = tf_from_doc_table(
            index.docs.select("doc_id", "url", "chunk_index", "label", "doc_len")
        )
        blocks = _sorted_block_rows(tf, avgdl, index.term_buckets, block_size).persist()
        dictionary = blocks.groupBy("term", "term_bucket").agg(
            F.first("df").alias("df"), F.max("block_ub").alias("max_kernel")
        ).select("term", "term_bucket", "df", "max_kernel")
    elif strategy == "arrays":
        encode_blocks = make_encode_blocks_udf(avgdl, block_size)
        blocks = (
            index.postings.withColumn("_blocks", encode_blocks("postings"))
            .select("term", "term_bucket", "df", F.explode("_blocks").alias("b"))
            .select("term", "term_bucket", "df", "b.*")
        )
        dictionary = index.postings.select(
            "term", "term_bucket", "df", max_kernel_col(avgdl).alias("max_kernel")
        )
    else:
        raise ValueError(strategy)
    # sorted-path blocks are already co-located by bucket (the encode
    # stream runs on bucket-hash partitions) — no extra shuffle needed.
    to_write = blocks if strategy == "sorted" else blocks.repartition("term_bucket")
    (
        to_write.write.mode("overwrite")
        .partitionBy("term_bucket")
        .parquet(str(index_dir / "postings"))
    )
    (
        dictionary.repartition("term_bucket")
        .write.mode("overwrite")
        .partitionBy("term_bucket")
        .parquet(str(index_dir / "dict"))
    )
    if strategy == "sorted":
        blocks.unpersist()
    index.docs.write.mode("overwrite").parquet(str(index_dir / "docs"))
    index.stats.write.mode("overwrite").parquet(str(index_dir / "stats"))
    meta = {
        "format_version": FORMAT_VERSION,
        "term_buckets": index.term_buckets,
        "block_size": block_size,
        "doc_count": index.doc_count,
        "avg_doc_len": index.avg_doc_len,
        "ub_avg_doc_len": index.avg_doc_len,  # kernel-encode basis (merge.py)
    }
    (index_dir / "meta.json").write_text(json.dumps(meta, indent=2))
    drop_segment_layers(index_dir)


def build_and_write_index(
    pages,
    index_dir: str | Path,
    *,
    term_buckets: int = 64,
    block_size: int = POSTING_BLOCK_SIZE,
    mode: str = "full",
) -> dict:
    """End-to-end artifact build WITHOUT materializing posting arrays:
    pages → chunks → doc ids → map-side tf → sorted streaming block
    encode → partitioned parquet. One shuffle for ids, one for the
    bucket sort — the per-(doc,term) tf never shuffles (term_freqs
    computes run lengths inside the doc row, so the only exchange of
    term rows left is the term-bucket repartition the encoder needs
    anyway). No collect_list, no per-term JVM arrays (the path that
    survives head terms at 10^12 docs). Returns {docs, avg_doc_len,
    secs...} summary."""
    import time

    from vexor_spark.index.build import build_docs
    from vexor_spark.operators.postings import corpus_stats

    index_dir = Path(index_dir)
    t0 = time.time()
    intermediates: list = []
    docs = build_docs(pages, persisted_out=intermediates, mode=mode)
    doc_table = docs.select(*DOC_COLS).persist()
    row = corpus_stats(doc_table.select("doc_id", "doc_len")).collect()[0]
    doc_count = int(row["doc_count"])
    avgdl = float(row["avg_doc_len"]) if row["avg_doc_len"] else 0.0
    for df_ in intermediates:  # chunk/id caches no longer needed
        df_.unpersist()
    # stage fences = the pipeline's real action boundaries (no extra
    # jobs): extract→chunk→ids→tokenize/doc_len lands with the stats
    # collect; tf→bucket sort→block encode→postings parquet with the
    # postings write; dict/docs/stats writes close it out.
    t_chunk = time.time()

    from vexor_spark.operators.postings import tf_from_doc_table

    tf = tf_from_doc_table(doc_table)
    blocks = _sorted_block_rows(tf, avgdl if avgdl > 0 else 1.0, term_buckets, block_size)
    blocks = blocks.persist()
    blocks.write.mode("overwrite").partitionBy("term_bucket").parquet(
        str(index_dir / "postings")
    )
    t_postings = time.time()
    dictionary = blocks.groupBy("term", "term_bucket").agg(
        F.first("df").alias("df"), F.max("block_ub").alias("max_kernel")
    ).select("term", "term_bucket", "df", "max_kernel")
    # repartition by the hive key BEFORE the partitioned write: the
    # groupBy leaves every bucket's rows spread over all post-shuffle
    # partitions (AQE coalesces to ~defaultParallelism), so each task
    # wrote a file into EVERY bucket dir — tasks × buckets tiny files,
    # growing with core count (the round-6 inverted dict/docs/stats
    # stage: 12.4 s at n8 → 39.8 s at n32 on 2M pages). One exchange
    # on term_bucket makes it one file per bucket dir, independent of
    # parallelism (guide §6 small files; write_index already did this).
    dictionary.repartition(F.col("term_bucket")).write.mode(
        "overwrite"
    ).partitionBy("term_bucket").parquet(str(index_dir / "dict"))
    blocks.unpersist()
    # docs: bound the file count by corpus size, not by parallelism —
    # ~250k docs (~15-30 MB) per file, floor 8 for parallel reads.
    n_doc_files = max(8, min(256, doc_count // 250_000 + 1))
    doc_table.coalesce(n_doc_files).write.mode("overwrite").parquet(
        str(index_dir / "docs")
    )
    local_frame(
        doc_table.sparkSession, [(doc_count, avgdl)],
        "doc_count long, avg_doc_len double",
    ).write.mode("overwrite").parquet(str(index_dir / "stats"))
    doc_table.unpersist()
    t_meta = time.time()
    stage_secs = {
        "extract_chunk_ids_doclen": round(t_chunk - t0, 3),
        "tf_encode_write_postings": round(t_postings - t_chunk, 3),
        "dict_docs_stats_write": round(t_meta - t_postings, 3),
    }
    meta = {
        "format_version": FORMAT_VERSION,
        "term_buckets": term_buckets,
        "block_size": block_size,
        "doc_count": doc_count,
        "avg_doc_len": avgdl,
        "ub_avg_doc_len": avgdl,  # kernel-encode basis (merge.py)
    }
    (index_dir / "meta.json").write_text(json.dumps(meta, indent=2))
    drop_segment_layers(index_dir)
    return {
        "docs": doc_count,
        "avg_doc_len": avgdl,
        "secs": round(time.time() - t0, 3),
        "stage_secs": stage_secs,
    }


class PersistedIndex:
    """The index reader: a view over the base artifact plus the live
    delta-segment layers named by `segments.json` (or by `manifest=`,
    which delta._apply_delta passes for the view it is updating).

    With zero live layers the view is the base alone: doc_count and
    avg_doc_len come from meta.json and opening runs no Spark job.
    With live layers the statistics come from the manifest's exact
    length sums, and every distributed query path merges layers at
    read time on both executors (exact — equal to a full rebuild of the
    current corpus, pinned by test_delta.py): segment blocks join the
    base blocks, df is the merged df, and tombstoned postings die at
    decode time."""

    # Above this tombstone volume the driver stops materializing the
    # tombstone map locally (θ walks fall back to unpruned, reads use
    # the join path) — ~80 MB of int64 pairs; compaction's
    # tombstone_ratio budget keeps real indexes far below it.
    TOMB_DRIVER_MAX = 5_000_000

    def __init__(
        self, spark: SparkSession, index_dir: str | Path, *, manifest: dict | None = None
    ):
        self.spark = spark
        self.dir = Path(index_dir)
        meta = json.loads((self.dir / "meta.json").read_text())
        if meta["format_version"] != FORMAT_VERSION:
            raise ValueError(
                f"index format {meta['format_version']} != engine {FORMAT_VERSION}"
            )
        if manifest is None and _manifest_path(self.dir).exists():
            manifest = json.loads(_manifest_path(self.dir).read_text())
        segs = manifest["segments"] if manifest else []
        self.seg_ids: list[int] = [int(s["seg"]) for s in segs]
        self._tomb_total = sum(s["n_removed"] for s in segs)
        if segs:
            # Read-side FORMAT GUARD (round-5 ADVICE, medium): the
            # round-5 layout moved segments to block-encoded sibling
            # hive trees (segments/postings/seg=N). A pre-existing
            # row-format segment (old segments/seg=N/postings) would
            # make _seg_read return None and this view silently serve
            # base-only rows while the manifest-derived doc_count/
            # avg_doc_len still include segment stats — silently wrong
            # results. Fail loudly instead and name the migration
            # (compact_segments folds layers into the base).
            bad = [s["seg"] for s in segs if s.get("format") != "blocks"]
            legacy = sorted(
                p.name for p in (self.dir / "segments").glob("seg=*")
            ) if (self.dir / "segments").exists() else []
            if bad or legacy or not (self.dir / "segments" / "postings").exists():
                raise ValueError(
                    f"segment layout mismatch in {self.dir}: "
                    f"non-block segments {bad or legacy} "
                    "(pre-round-5 row format). Run compact_segments() "
                    "with the engine version that WROTE them to fold "
                    "segments into the base, then re-apply updates."
                )
            self.doc_count: int = live_doc_count(manifest)
            len_sum = manifest["base_len_sum"] + sum(
                s["len_new"] - s["len_removed"] for s in segs
            )
            self.avg_doc_len: float = (
                (len_sum / self.doc_count) if self.doc_count else 0.0
            )
        else:
            self.doc_count = meta["doc_count"]
            self.avg_doc_len = meta["avg_doc_len"]
        self.term_buckets: int = meta["term_buckets"]
        # size of the driver executor's dense accumulators: base ids are
        # row numbers in [0, doc_count), and delta draws fresh ids from
        # next_doc_id without ever reusing one
        self.id_space: int = (
            int(manifest["next_doc_id"]) if segs else int(meta["doc_count"])
        )
        self.block_size: int = meta.get("block_size", POSTING_BLOCK_SIZE)
        # Stored block_ub / max_kernel (base AND segments — _apply_delta
        # encodes segments with the base's ub basis) were computed at
        # encode time with `ub_avg_doc_len`, the base's avgdl when the
        # last full merge wrote it. Live delta layers move the view's
        # avgdl away from that basis. Kernels grow with avgdl and
        # k(a2)/k(a1) ≤ a2/a1, so inflating stored bounds by
        # avgdl_now / basis keeps every pruning bound a true upper bound
        # under drift — avgdl_now being the MERGED view's.
        basis = float(meta.get("ub_avg_doc_len", meta["avg_doc_len"]) or 0.0)
        self.ub_factor: float = (
            max(1.0, self.avg_doc_len / basis) if basis > 0 else 1.0
        )
        # Driver-side LRU of per-term block rows (the analog of the
        # reference's SQLite postings reuse across searches,
        # vexor/cache.py:437-477): repeated query terms skip the
        # parquet read entirely. Entries: term -> (block rows, df);
        # absent terms cache as ([], 0) so misses are also one-shot.
        # Bounded; invalidated by constructing a fresh PersistedIndex
        # (updates rewrite files or add layers — reopen after updates,
        # like the reference reopens its SQLite cache). BASE rows only
        # (the θ machinery reads it); segment rows live in their own
        # cache of the same shape.
        self._term_cache: "dict[str, tuple[list, int]]" = {}
        self._seg_term_cache: "dict[str, tuple[list, int]]" = {}
        self.term_cache_max = 4096
        # Metadata-only block rows (no blobs) for the θ machinery —
        # tiny (5 ints per block), bounded like the full cache.
        self._term_meta_cache: "dict[str, list]" = {}
        # Second-level cache: fully-decoded (doc_ids, contributions)
        # per term — repeated terms across queries skip the varint
        # decode entirely. Bounded by TOTAL cached postings, since one
        # head term can be the size of thousands of tail terms.
        self._contrib_cache: "dict[str, tuple]" = {}
        self._contrib_cached_postings = 0
        # 20M postings ≈ 320 MB of (id, contribution) pairs — a modest
        # slice of a serving node's RAM; warm() spends at most half.
        self.contrib_cache_max_postings = 20_000_000
        self.postings = spark.read.parquet(str(self.dir / "postings"))
        self.docs = spark.read.parquet(str(self.dir / "docs"))

    # --- plumbing ---------------------------------------------------------

    def _tombstones_on_driver(self) -> bool:
        """Whether the tombstone map fits the driver budget (always true
        with no live layer) — the driver executor and the θ machinery
        need it in memory to drop dead postings."""
        return not self.seg_ids or self._tomb_total <= self.TOMB_DRIVER_MAX

    def _matched_blocks(self, terms: list[str]) -> DataFrame:
        """Block rows for the query terms — bucket partition pruning +
        row-group term stats do the seeking. `_layer` marks the layer
        (0 = base, N = segment N), so (term, _layer, block_id) is the
        cross-layer block key of the pruning machinery (wand.py).

        With live layers: ONE bucket-pruned base scan ∪ ONE hive-pruned
        segment scan, restricted to terms whose merged df is positive,
        with `df` OVERRIDDEN by the exact merged document frequency
        (segment rows carry segment-local df, base rows pre-update df —
        both wrong for scoring the merged view)."""
        if self.seg_ids:
            df_map = self.term_df_map(terms)
            terms = [t for t in terms if t in df_map]
        buckets = sorted(set(term_buckets_for(self.spark, terms, self.term_buckets).values()))
        in_terms = F.col("term_bucket").isin(buckets) & F.col("term").isin(terms)
        base = self.postings.filter(in_terms).withColumn("_layer", F.lit(0))
        if not self.seg_ids:
            return base
        cols = ["term", "df", "block_id", "n", "block_first", "block_last",
                "block_ub", "blob", "_layer"]
        # every row's term passed the isin(terms) filter, so the map
        # lookup can't miss (element_at on maps throws under ANSI only
        # for absent keys).
        mdf = F.element_at(
            F.create_map(*[
                lit for t in terms for lit in (F.lit(t), F.lit(int(df_map[t])))
            ]),
            F.col("term"),
        ).cast("long") if terms else F.lit(0).cast("long")
        out = base.withColumn("df", mdf).select(*cols)
        segs = self._seg_read("postings")
        if segs is None:
            return out
        return out.unionByName(
            segs.filter(in_terms)
            .withColumn("_layer", F.col("seg").cast("int"))
            .withColumn("df", mdf)
            .select(*cols)
        )

    def _seg_root(self, sub: str) -> Path:
        return self.dir / "segments" / sub

    def _seg_read(self, sub: str) -> DataFrame | None:
        """One hive-partitioned read over segments/<sub>/seg=N/... —
        the `seg` partition column identifies the layer; filters on it
        prune directories. None when no live segments / no data.
        The DataFrame (and with it Spark's file-index listing — ~3k
        files at 8 segments × 64 buckets) is cached per index instance:
        listing is paid once at first use, not per query."""
        cache = getattr(self, "_seg_frames", None)
        if cache is None:
            cache = self._seg_frames = {}
        if sub in cache:
            return cache[sub]
        root = self._seg_root(sub)
        if not self.seg_ids or not root.exists():
            cache[sub] = None
            return None
        cache[sub] = (
            self.spark.read.option("basePath", str(root))
            .parquet(str(root))
            .filter(F.col("seg").isin(self.seg_ids))
        )
        return cache[sub]

    def _tombstone_max(self) -> DataFrame | None:
        """(doc_id, _tmax) — the HIGHEST layer that tombstoned each
        doc_id, from one scan of the tombstone tree. A row written at
        layer L survives iff _tmax is null or _tmax ≤ L (a layer's own
        re-add outlives its own tombstone; later tombstones kill all
        lower layers). One join replaces the per-layer anti-joins —
        plan size stays O(1) in segment count."""
        if getattr(self, "_tomb_max", "absent") != "absent":
            return self._tomb_max
        tombs = self._seg_read("tombstones")
        if tombs is None:
            self._tomb_max = None
            return None
        out = tombs.groupBy("doc_id").agg(F.max("seg").alias("_tmax"))
        # manifest knows the exact tombstone volume — broadcast the
        # aggregated map when it is small (the common steady state), so
        # the layered read costs a map-side hash join instead of
        # shuffling the decoded posting rows.
        if self._tomb_total <= 2_000_000:
            out = F.broadcast(out)
        self._tomb_max = out
        return out

    def _tombstone_arrays(self):
        """(sorted doc_ids int64, tmax int64) — the tombstone map as
        driver numpy arrays (one pyarrow read, cached per instance), or
        None when there are no tombstones or the volume exceeds
        TOMB_DRIVER_MAX. Feeds BOTH the θ walk's exclusion set and the
        decode-time filter broadcast (codec.explode_blocks_rows)."""
        if getattr(self, "_tomb_np", "absent") != "absent":
            return self._tomb_np
        import numpy as np
        import pyarrow.dataset as pads

        self._tomb_np = None
        if (
            not self.seg_ids or self._tomb_total == 0
            or not self._tombstones_on_driver()
            or not self._seg_root("tombstones").exists()
        ):
            return None
        tbl = self._dataset("segments/tombstones").to_table(
            columns=["doc_id", "seg"], filter=pads.field("seg").isin(self.seg_ids),
        )
        ids = tbl.column("doc_id").to_numpy().astype(np.int64, copy=True)
        segs = tbl.column("seg").to_numpy().astype(np.int64, copy=True)
        if len(ids) == 0:
            return None
        order = np.lexsort((segs, ids))  # by doc_id, then seg asc
        ids_s, segs_s = ids[order], segs[order]
        uniq, starts = np.unique(ids_s, return_index=True)
        ends = np.r_[starts[1:], len(ids_s)] - 1
        self._tomb_np = (uniq, segs_s[ends])  # max seg per id
        return self._tomb_np

    def _tombstone_bc(self):
        """Spark broadcast of _tombstone_arrays (cached), or None."""
        if getattr(self, "_tomb_bcast", "absent") != "absent":
            return self._tomb_bcast
        arrays = self._tombstone_arrays()
        self._tomb_bcast = (
            self.spark.sparkContext.broadcast(arrays) if arrays is not None else None
        )
        return self._tomb_bcast

    def docs_view(self) -> DataFrame:
        """Current doc table: per doc_id the row from the HIGHEST layer,
        dropped when a later layer tombstoned it (the base table as is
        when no layer is live)."""
        from pyspark.sql import Window

        base = self.docs.select(*DOC_COLS)
        if not self.seg_ids:
            return base
        allrows = base.withColumn("_layer", F.lit(0))
        seg_docs = self._seg_read("docs")
        if seg_docs is not None:
            allrows = allrows.unionByName(
                seg_docs.select(*DOC_COLS, F.col("seg").cast("int").alias("_layer"))
            )
        w = Window.partitionBy("doc_id").orderBy(F.desc("_layer"))
        winner = (
            allrows.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        tomb_max = self._tombstone_max()
        if tomb_max is None:
            return winner.drop("_layer")
        return (
            winner.join(tomb_max, "doc_id", "left")
            .filter(F.col("_tmax").isNull() | (F.col("_tmax") <= F.col("_layer")))
            .drop("_layer", "_tmax")
        )

    def _term_blocks_for_theta(self, t_star: str):
        """(block METADATA rows of t_star, excluded-doc-id array or
        None) for the driver-side θ machinery (wand). Metadata rows are
        (block_id, first, last, block_ub, n) — NO blobs: the θ walk
        typically decodes one block and the seed probe a handful, while
        a head term carries thousands of blocks whose encoded payloads
        dominated the old eager read (round-6 verdict #2: the probe
        cost the head class +13% at 2M for zero wins). Blobs are
        fetched per block via _theta_blobs.

        Rows are BASE blocks only. With live layers the tombstoned docs
        are excluded: their base postings are dead, and counting one
        would break θ's lower-bound property; segment postings are
        ignored, which only weakens θ (sound). Returns ([], None) when
        the tombstone map exceeds the driver budget — wand then falls
        back to unpruned scoring."""
        if not self._tombstones_on_driver():
            return [], None
        arrays = self._tombstone_arrays()
        exclude = arrays[0] if arrays is not None else None
        if t_star in self._term_cache:
            blocks, _df = self._term_cache[t_star]
            return [b[:5] for b in blocks], exclude
        meta = self._term_meta_cache.get(t_star)
        if meta is None:
            tbl = self._arrow_read(
                "postings",
                [t_star],
                ["block_id", "block_first", "block_last", "block_ub", "n"],
            )
            meta = sorted(
                zip(
                    tbl.column("block_id").to_pylist(),
                    tbl.column("block_first").to_pylist(),
                    tbl.column("block_last").to_pylist(),
                    tbl.column("block_ub").to_pylist(),
                    (int(x) for x in tbl.column("n").to_pylist()),
                )
            )
            self._term_meta_cache[t_star] = meta
            while len(self._term_meta_cache) > self.term_cache_max:
                self._term_meta_cache.pop(next(iter(self._term_meta_cache)))
        return meta, exclude

    def prefetch_theta_meta(self, terms: list[str]) -> None:
        """Fill the metadata cache for MANY terms in ONE pyarrow read —
        the θ machinery touches every query term's metadata (volume
        prechecks, seed probe), and per-term reads each pay the
        dataset-scan fixed cost (~0.1 s on a 2M index). Terms already
        in either cache are skipped."""
        missing = [
            t
            for t in terms
            if t not in self._term_meta_cache and t not in self._term_cache
        ]
        if not missing:
            return
        tbl = self._arrow_read(
            "postings",
            missing,
            ["term", "block_id", "block_first", "block_last", "block_ub", "n"],
        )
        fresh: dict[str, list] = {t: [] for t in missing}
        for t, bid, bf, bl, bub, n_ in zip(
            tbl.column("term").to_pylist(),
            tbl.column("block_id").to_pylist(),
            tbl.column("block_first").to_pylist(),
            tbl.column("block_last").to_pylist(),
            tbl.column("block_ub").to_pylist(),
            tbl.column("n").to_pylist(),
        ):
            fresh[t].append((bid, bf, bl, bub, int(n_)))
        for t, meta in fresh.items():
            meta.sort()
            self._term_meta_cache[t] = meta
        while len(self._term_meta_cache) > self.term_cache_max:
            self._term_meta_cache.pop(next(iter(self._term_meta_cache)))

    def _theta_blobs(self, term: str, bids: list[int]) -> dict[int, bytes]:
        """{block_id: blob} for specific blocks of one term — the lazy
        payload fetch behind the θ walk / seed probe (metadata comes
        from _term_blocks_for_theta)."""
        return self._theta_blobs_multi({term: bids}).get(term, {})

    def _theta_blobs_multi(
        self, want: "dict[str, list[int]]"
    ) -> "dict[str, dict[int, bytes]]":
        """{term: {block_id: blob}} for specific blocks of MANY terms
        in ONE filtered pyarrow read (block_id filter = the union of
        the per-term requests — a small over-read beats one fixed-cost
        dataset scan per term). Serves from the full term cache when
        present."""
        out: dict[str, dict[int, bytes]] = {}
        need: dict[str, set] = {}
        for term, bids in want.items():
            if not bids:
                continue
            if term in self._term_cache:
                w = set(int(b) for b in bids)
                blocks, _df = self._term_cache[term]
                out[term] = {b[0]: b[5] for b in blocks if b[0] in w}
            else:
                need[term] = {int(b) for b in bids}
        if not need:
            return out
        import pyarrow.dataset as pads

        buckets = sorted(
            set(
                term_buckets_for(
                    self.spark, list(need), self.term_buckets
                ).values()
            )
        )
        all_bids = sorted(set().union(*need.values()))
        tbl = self._dataset("postings").to_table(
            columns=["term", "block_id", "blob"],
            filter=(
                pads.field("term_bucket").isin(buckets)
                & pads.field("term").isin(list(need))
                & pads.field("block_id").isin(all_bids)
            ),
        )
        for t, bid, blob in zip(
            tbl.column("term").to_pylist(),
            tbl.column("block_id").to_pylist(),
            tbl.column("blob").to_pylist(),
        ):
            if t in need and bid in need[t]:
                out.setdefault(t, {})[bid] = blob
        return out

    def _dataset(self, subdir: str):
        """pyarrow dataset handle, opened once per subdir — directory
        discovery over the term_bucket partition dirs costs tens of ms
        and was paid per query before (serving-path p95)."""
        cache = getattr(self, "_datasets", None)
        if cache is None:
            cache = self._datasets = {}
        if subdir not in cache:
            import pyarrow.dataset as pads

            cache[subdir] = pads.dataset(
                str(self.dir / subdir), format="parquet", partitioning="hive"
            )
        return cache[subdir]

    def _arrow_read(self, subdir: str, terms: list[str], columns: list[str]):
        """Rows of `terms` under subdir, term_bucket/term pruned; a
        segments/ tree is also pruned to the live layers."""
        import pyarrow.dataset as pads

        buckets = sorted(set(term_buckets_for(self.spark, terms, self.term_buckets).values()))
        flt = pads.field("term_bucket").isin(buckets) & pads.field("term").isin(terms)
        if subdir.startswith("segments/"):
            flt = flt & pads.field("seg").isin(self.seg_ids)
        return self._dataset(subdir).to_table(columns=columns, filter=flt)

    def _base_dict(self, terms: list[str]) -> dict[str, tuple[int, float]]:
        tbl = self._arrow_read("dict", terms, ["term", "df", "max_kernel"])
        return {
            t: (int(d), float(mk))
            for t, d, mk in zip(
                tbl.column("term").to_pylist(),
                tbl.column("df").to_pylist(),
                tbl.column("max_kernel").to_pylist(),
            )
        }

    def term_df_map(self, terms: list[str]) -> dict[str, int]:
        """Exact df per query term over the view: base dict df + Σ seg
        (df_new − df_removed) — one pyarrow partition-pruned read over
        the dfdelta tree (sums are order-independent across layers).
        Terms whose merged df is 0 are absent. Memoized per term set:
        one query touches this up to three times (term_dict,
        _matched_blocks, search_distributed_multi)."""
        key = tuple(sorted(terms))
        memo = getattr(self, "_dfmap_memo", None)
        if memo is None:
            memo = self._dfmap_memo = {}
        if key in memo:
            return dict(memo[key])
        out = {t: d for t, (d, _mk) in self._base_dict(terms).items()}
        if self.seg_ids and self._seg_root("dfdelta").exists():
            tbl = self._arrow_read(
                "segments/dfdelta", terms, ["term", "df_new", "df_removed"]
            )
            for t, dn, dr in zip(
                tbl.column("term").to_pylist(),
                tbl.column("df_new").to_pylist(),
                tbl.column("df_removed").to_pylist(),
            ):
                out[t] = out.get(t, 0) + int(dn) - int(dr)
        result = {t: d for t, d in out.items() if d > 0}
        if len(memo) > 256:
            memo.clear()
        memo[key] = dict(result)
        return result

    def _seg_max_kernels(self, terms: list[str]) -> dict[str, float]:
        """{term: max block_ub across live segment layers} — pyarrow
        metadata-only read (no blobs) over the segment postings tree,
        seg/term_bucket/term pruned. Needed so query-time upper bounds
        cover segment postings too: a term's merged ub must dominate
        contributions from EVERY live layer, not just the base dict."""
        if not self.seg_ids or not self._seg_root("postings").exists():
            return {}
        tbl = self._arrow_read("segments/postings", terms, ["term", "block_ub"])
        out: dict[str, float] = {}
        for t, ub in zip(
            tbl.column("term").to_pylist(), tbl.column("block_ub").to_pylist()
        ):
            if ub is not None and float(ub) > out.get(t, 0.0):
                out[t] = float(ub)
        return out

    def term_dict(self, terms: list[str]) -> dict[str, tuple[int, float]]:
        """{term: (df, max_kernel)} via pyarrow (tiny reads, no Spark
        job) — the wand.py pruning contract. With live layers, df is
        the merged df (term_df_map) and max_kernel the max over every
        live layer's blocks."""
        base = self._base_dict(terms)
        if not self.seg_ids:
            return base
        seg_mk = self._seg_max_kernels(terms)
        return {
            t: (d, max(base[t][1] if t in base else 0.0, seg_mk.get(t, 0.0)))
            for t, d in self.term_df_map(terms).items()
        }

    def warm(self, top_df_terms: int = 256) -> int:
        """Pre-decode the highest-df terms' contribution vectors — the
        cache warmup a long-lived serving process runs at open. High-df
        terms dominate cold-query tail latency (their lists are the
        biggest decodes); rare terms stay cheap cold. Stops early when
        the contribution cache budget is half-spent so warmed entries
        don't evict each other. Returns the number of terms warmed.
        Terms are chosen by base df; over live layers their vectors
        cover every layer. Warms nothing when the tombstone map exceeds
        the driver budget (queries then run on the executors)."""
        if not self._tombstones_on_driver():
            return 0
        tbl = self._dataset("dict").to_table(columns=["term", "df"])
        pairs = sorted(
            zip(tbl.column("term").to_pylist(), tbl.column("df").to_pylist()),
            key=lambda p: -p[1],
        )
        budget = self.contrib_cache_max_postings // 2
        chosen: list[str] = []
        spent = 0
        for term, df_ in pairs:
            if len(chosen) >= top_df_terms or spent + int(df_) > budget:
                break
            chosen.append(term)
            spent += int(df_)
        if not chosen:
            return 0
        by_term, dfs = self._term_blocks_cached(chosen)
        for t in chosen:
            if t in by_term:
                self._term_contribs(t, by_term[t], dfs)
        return len(chosen)

    # --- query paths --------------------------------------------------------

    def search_local(
        self, query: str, k: int = 10, *, prune: bool = True,
        round_dp: int | None = SCORE_ROUND_DP,
    ) -> list[tuple[int, int, float]]:
        """[(rank, doc_id, score)] from the driver executor — zero Spark
        jobs, over the base and every live layer.

        Ranks on round_dp-rounded scores by default (the round-7 public
        ranking contract — raw float order is summation-order dependent
        at the ulp level; rounded order + doc_id tiebreak is stable
        across arms). prune=True runs exact term-at-a-time max-score
        pruning with block skipping (see _search_local_pruned — its
        freeze threshold carries the rounding slack so boundary-tie
        docs are never dropped); prune=False decodes every matched
        list (the reference's own flow, vexor/cache.py:1492-1535 →
        bm25.score_postings) — kept for equivalence testing.

        When the tombstone map exceeds the driver budget the query runs
        on the executors instead (same rows, Spark jobs).
        """
        terms = prepare_query_terms(query)
        if not self._tombstones_on_driver():
            rows = self._search_executor(terms, k, prune=prune, round_dp=round_dp)
            return [(r["rank"], r["doc_id"], r["score"]) for r in rows.collect()]
        return self._search_driver(terms, k, prune=prune, round_dp=round_dp)

    def _search_driver(
        self, terms: list[str], k: int, *, prune: bool,
        round_dp: int | None, metrics: dict | None = None,
    ) -> list[tuple[int, int, float]]:
        """The driver executor: pyarrow block reads (LRU-cached), numpy
        decode with the tombstone rule, TAAT scoring, numpy top-k.
        `metrics` gets blocks_total / blocks_decoded and `pruned` (the
        TAAT pass froze its candidate set) from the pass itself."""
        if not terms or self.doc_count <= 0 or self.avg_doc_len <= 0:
            return []
        by_term, dfs = self._term_blocks_cached(terms)
        total = sum(len(b) for b in by_term.values())
        if prune:
            slack = 1.5 * 10.0 ** (-round_dp) if round_dp is not None else 0.0
            ids, scores, decoded, frozen = self._search_local_pruned(
                terms, by_term, dfs, k, theta_slack=slack
            )
        else:
            ids, scores = self._score_all_np(terms, by_term, dfs)
            decoded, frozen = total, False
        if metrics is not None:
            metrics.update(blocks_total=total, blocks_decoded=decoded, pruned=frozen)
        return _topk_np(ids, scores, k, round_dp=round_dp)

    def _read_block_rows(self, subdir: str, terms: list[str]) -> dict[str, tuple[list, int]]:
        """{term: (sorted block rows, stored df)} from ONE pyarrow read of
        `postings` or `segments/postings`; absent terms map to ([], 0).
        A row is (block_id, first, last, block_ub, n, blob, layer), with
        layer 0 for the base and N for segment N."""
        layered = subdir.startswith("segments/")
        tbl = self._arrow_read(
            subdir,
            terms,
            ["term", "df", "block_id", "block_first", "block_last",
             "block_ub", "n", "blob"] + (["seg"] if layered else []),
        )
        layers = tbl.column("seg").to_pylist() if layered else [0] * tbl.num_rows
        out: dict[str, tuple[list, int]] = {t: ([], 0) for t in terms}
        for t, df_, bid, bf, bl, bub, n_, blob, layer in zip(
            tbl.column("term").to_pylist(),
            tbl.column("df").to_pylist(),
            tbl.column("block_id").to_pylist(),
            tbl.column("block_first").to_pylist(),
            tbl.column("block_last").to_pylist(),
            tbl.column("block_ub").to_pylist(),
            tbl.column("n").to_pylist(),
            tbl.column("blob").to_pylist(),
            layers,
        ):
            out[t] = (out[t][0], int(df_))
            out[t][0].append((bid, bf, bl, bub, int(n_), blob, int(layer)))
        for blocks, _df in out.values():
            blocks.sort()
        return out

    def _cached_rows(self, cache: dict, subdir: str, terms: list[str]) -> dict:
        """_read_block_rows through an LRU `cache`: only cache-miss terms
        touch parquet, the query's terms are re-inserted as most recent,
        and eviction runs after assembly."""
        missing = [t for t in terms if t not in cache]
        if missing:
            cache.update(self._read_block_rows(subdir, missing))
        out = {t: cache.pop(t) for t in terms}
        cache.update(out)
        while len(cache) > self.term_cache_max:
            cache.pop(next(iter(cache)))
        return out

    def _term_blocks_cached(self, terms: list[str]):
        """{term: block rows over every live layer}, {term: df of the
        view} for the matched terms. With live layers df is the merged
        df (term_df_map) and a term whose merged df is 0 is absent."""
        base = self._cached_rows(self._term_cache, "postings", terms)
        if not self.seg_ids:
            by_term = {t: b for t, (b, _df) in base.items() if b}
            return by_term, {t: base[t][1] for t in by_term}
        segs = self._cached_rows(self._seg_term_cache, "segments/postings", terms)
        dfs = self.term_df_map(terms)
        return {t: base[t][0] + segs[t][0] for t in dfs}, dfs

    def _term_contribs(self, term: str, blocks: list, dfs: dict[str, int], *, full: bool = True):
        """Decode a term's blocks (ONE batch numpy pass over all blobs)
        → live (doc_ids, contributions): over live layers a posting at
        layer L whose doc was tombstoned above L is dropped
        (codec.live_postings), so each doc id appears once. `full=True`
        (the blocks are the term's ENTIRE list) results memoize —
        idf/avgdl are fixed per index instance, so contributions are
        reusable across queries; partial (pruned-subset) decodes bypass
        the cache."""
        import math

        import numpy as np

        from vexor_spark.constants import BM25_B, BM25_K1
        from vexor_spark.functions.codec import decode_blocks_np, live_postings

        if full and term in self._contrib_cache:
            return self._contrib_cache[term]
        n, avgdl = self.doc_count, self.avg_doc_len
        idf = math.log((n - dfs[term] + 0.5) / (dfs[term] + 0.5) + 1.0)
        counts = [b[4] for b in blocks]
        ids, tfs, dls = decode_blocks_np([b[5] for b in blocks], counts)
        tombstones = self._tombstone_arrays()
        if tombstones is not None:
            layer = np.repeat(np.asarray([b[6] for b in blocks], np.int64), counts)
            keep = live_postings(ids, layer, tombstones)
            if keep is not None:
                ids, tfs, dls = ids[keep], tfs[keep], dls[keep]
        tfs = tfs.astype(np.float64)
        denom = tfs + BM25_K1 * (1.0 - BM25_B + BM25_B * dls.astype(np.float64) / avgdl)
        out = (ids, idf * tfs * (BM25_K1 + 1.0) / denom)
        if full:
            self._contrib_cache[term] = out
            self._contrib_cached_postings += len(ids)
            while (
                self._contrib_cached_postings > self.contrib_cache_max_postings
                and len(self._contrib_cache) > 1
            ):
                old_t = next(iter(self._contrib_cache))
                if old_t == term:
                    break
                self._contrib_cached_postings -= len(self._contrib_cache.pop(old_t)[0])
        return out

    def _score_all_np(self, terms: list[str], by_term: dict, dfs: dict[str, int]):
        """Vectorized decode+score of every matched list (exact
        score_postings semantics, bm25.py:64-89).

        Doc ids lie in [0, id_space), so the accumulator is a flat
        array indexed by doc id: per-term `acc[ids] += cs` is safe
        (live ids are unique within one term's list) and adds
        contributions in the same term order as the former
        concatenate+unique+add.at, so float sums are bit-identical —
        without any O(n log n) sort. Driver executor only: the
        executor route never builds a dense per-corpus array."""
        import numpy as np

        acc = np.zeros(self.id_space, np.float64)
        seen = np.zeros(self.id_space, bool)
        hit = False
        for t in terms:
            if t not in by_term:
                continue
            ids, cs = self._term_contribs(t, by_term[t], dfs)
            acc[ids] += cs
            seen[ids] = True
            hit = True
        if not hit:
            return np.array([], np.int64), np.array([], np.float64)
        uniq = np.flatnonzero(seen)
        return uniq, acc[uniq]

    def _search_local_pruned(
        self,
        terms: list[str],
        by_term: dict[str, list],
        dfs: dict[str, int],
        k: int,
        *,
        theta_slack: float = 0.0,
    ):
        """Exact TAAT max-score: process terms in descending upper-bound
        order, accumulating full contributions (vectorized); once the
        summed upper bound of unprocessed terms drops strictly below the
        k-th best partial sum, no unseen doc can reach the top-k — the
        accumulator id set freezes, and remaining (head) terms decode
        only blocks whose doc-id range intersects it, keeping only
        frozen ids. Partial sums lower-bound final scores, so the
        threshold is valid; frozen docs still receive every remaining
        contribution ⇒ returned scores are exact, and excluded docs are
        provably outside the top-k.

        Accumulation is a dense array indexed by doc id (see
        _score_all_np): per-term adds happen in the same order as the
        former concatenate/unique/add.at plan, so sums stay
        bit-identical, and the freeze check is an O(id_space) partition
        instead of repeated O(n log n) uniques.

        Returns (doc_ids, scores, blocks decoded, whether it froze).
        """
        import math

        import numpy as np

        n = self.doc_count
        idf = {
            t: math.log((n - dfs[t] + 0.5) / (dfs[t] + 0.5) + 1.0)
            for t in terms
            if t in by_term
        }
        # the max block_ub over every layer's rows is term_dict's
        # max_kernel; ub_factor corrects it for avgdl drift since encode.
        ub = {t: idf[t] * max(b[3] for b in by_term[t]) * self.ub_factor for t in idf}
        order = sorted(idf, key=lambda t: -ub[t])
        remaining = sum(ub.values())

        acc = np.zeros(self.id_space, np.float64)
        seen = np.zeros(self.id_space, bool)
        frozen: np.ndarray | None = None  # sorted frozen doc ids
        frozen_mask: np.ndarray | None = None
        processed_ub = 0.0
        decoded = 0

        for t in order:
            remaining -= ub[t]
            blocks = by_term[t]
            if frozen is not None:
                # keep only blocks whose doc-id range contains a frozen id
                blocks = [
                    b
                    for b in blocks
                    if (lo := np.searchsorted(frozen, b[1])) < len(frozen)
                    and frozen[lo] <= b[2]
                ]
                if not blocks:
                    continue
            decoded += len(blocks)
            ids, cs = self._term_contribs(t, blocks, dfs, full=frozen is None)
            if frozen_mask is not None:
                keep = frozen_mask[ids]
                ids, cs = ids[keep], cs[keep]
                acc[ids] += cs
            else:
                acc[ids] += cs
                seen[ids] = True
            processed_ub += ub[t]
            # The freeze check is only worth doing when it could
            # possibly succeed: theta ≤ best partial ≤ processed_ub,
            # so remaining < processed_ub is necessary.
            if frozen is None and remaining < processed_ub:
                cand = np.flatnonzero(seen)
                if len(cand) >= k:
                    part = acc[cand]
                    theta = np.partition(part, len(part) - k)[len(part) - k]
                    # theta_slack (rounded-rank contract): an unseen
                    # doc with score in [θ − slack, θ) could round
                    # into a k-th-place tie — only freeze when no
                    # unseen doc can get that close.
                    if remaining < theta - theta_slack:
                        frozen = cand
                        frozen_mask = seen
        uniq = np.flatnonzero(seen)
        return uniq, acc[uniq], decoded, frozen is not None

    def _exploded_rows(self, blocks: DataFrame) -> DataFrame:
        """blocks → live (term, df, doc_id, tf, doc_len) posting rows —
        the decode step shared by single-query scoring and the batch
        path (wand.pruned_multi scores whatever frame it returns). One
        fused mapInPandas kernel: vectorized varint decode + np.repeat
        replication (codec.explode_blocks_rows) — no per-posting Python
        structs, no JVM explode. With live layers the tombstone filter
        is applied AT DECODE TIME via the broadcast map, so dead
        postings die inside the numpy batch with no join stage; only a
        tombstone volume above the driver budget falls back to the
        broadcast max-layer join."""
        from vexor_spark.functions.codec import explode_blocks_rows

        bc = self._tombstone_bc()
        if bc is not None:
            return explode_blocks_rows(blocks, tomb_bc=bc)
        tomb_max = self._tombstone_max()
        if tomb_max is None:
            return explode_blocks_rows(blocks)
        return (
            explode_blocks_rows(blocks, keep_layer=True)
            .join(tomb_max, "doc_id", "left")
            .filter(F.col("_tmax").isNull() | (F.col("_tmax") <= F.col("_layer")))
            .drop("_tmax", "_layer")
        )

    def _score_blocks(
        self, blocks: DataFrame, candidates: DataFrame | None = None
    ) -> DataFrame:
        """blocks (term, df, blob, ...) → live (doc_id, score) — the
        fallback/rescore hook wand.pruned_scores calls. `candidates`
        (doc_id), when given, restricts the aggregation to those docs
        via a broadcast semi-join BEFORE the shuffle (the pruned
        rescore, wand.py step 3)."""
        exploded = self._exploded_rows(blocks)
        if candidates is not None:
            exploded = exploded.join(F.broadcast(candidates), "doc_id", "left_semi")
        contrib = bm25_contribution_col(
            F.col("tf"), F.col("doc_len"), F.col("df"),
            float(self.doc_count), float(self.avg_doc_len),
        )
        return (
            exploded.withColumn("contribution", contrib)
            .groupBy("doc_id")
            .agg(F.sum("contribution").alias("score"))
        )

    def search_distributed(
        self, query: str, k: int = 10, *, prune: bool = True,
        metrics: dict | None = None, round_dp: int | None = SCORE_ROUND_DP,
    ) -> DataFrame:
        """(rank, doc_id, score) DataFrame; ranks on round_dp-rounded
        scores by default (round-7 public ranking contract: raw float
        sums are summation-order dependent at the ulp level; rounding +
        doc_id tiebreak makes the order stable across executors and
        partitionings — pass round_dp=None for raw scores/raw order).

        Routed per query on driver-held metadata (the REPOSE pattern:
        decide locally, ship only work big enough to need executors):
        Σ merged df over the present terms ≤ DRIVER_MAX_POSTINGS → the
        driver executor (search_local's numpy path; its ≤k rows return
        as a LocalRelation, so the query starts no Spark job); larger
        volumes, or a tombstone map over the driver budget → the Spark
        executors (_search_executor). Both are exact over live layers
        and return the same rows.

        prune=True prunes on either executor (TAAT max-score on the
        driver, block-max WAND on the executors — wand.py). `metrics`
        records `route` and `route_reason`, plus the chosen executor's
        counters: blocks_total / blocks_decoded / pruned from the TAAT
        pass, or wand.pruned_scores' counters (which cost extra count()
        actions)."""
        terms = prepare_query_terms(query)
        route, reason = self._route(terms)
        if metrics is not None:
            metrics.update(route=route, route_reason=reason)
        if route == "executor":
            return self._search_executor(
                terms, k, prune=prune, metrics=metrics, round_dp=round_dp
            )
        hits = self._search_driver(
            terms, k, prune=prune, metrics=metrics, round_dp=round_dp
        )
        return local_frame(self.spark, hits, RANKED_SCHEMA)

    def _route(self, terms: list[str]) -> tuple[str, str]:
        """("driver" | "executor", reason) for one query — from the
        manifest's tombstone volume and the memoized dict/dfdelta read
        (term_df_map), no Spark job."""
        if not self._tombstones_on_driver():
            return "executor", "tombstones over driver budget"
        vol = sum(self.term_df_map(terms).values()) if terms else 0
        if vol <= DRIVER_MAX_POSTINGS:
            return "driver", f"postings {vol} <= DRIVER_MAX_POSTINGS"
        return "executor", f"postings {vol} > DRIVER_MAX_POSTINGS"

    def _search_executor(
        self, terms: list[str], k: int, *, prune: bool,
        round_dp: int | None, metrics: dict | None = None,
    ) -> DataFrame:
        """The executor route: executor-side decode+score, block-max
        pruned with prune=True (exact — see wand.py). Pruning is free
        when it cannot win: a driver-side dict check skips the θ pass
        whenever no query term has df ≥ k (wand.pruned_scores), so
        tail-term queries pay the unpruned price and head-term queries
        skip decoding most blocks. Over live layers, pruning runs over
        ALL layers with a tombstone-aware θ."""
        spark = self.spark
        if not terms or self.doc_count <= 0 or self.avg_doc_len <= 0:
            empty = local_frame(spark, [], "doc_id long, score double")
            return top_k(empty, k)
        if prune:
            from vexor_spark.index.wand import pruned_scores

            # rounded ranking needs a θ slack so boundary docs that
            # round into a k-th-place tie are retained (wand.pruned_scores)
            slack = 1.5 * 10.0 ** (-round_dp) if round_dp is not None else 0.0
            scored = pruned_scores(self, terms, k, metrics=metrics, theta_slack=slack)
        else:
            scored = self._score_blocks(self._matched_blocks(terms))
        return top_k(scored, k, round_dp=round_dp)

    def search_distributed_multi(
        self, queries: dict[str, str], k: int = 10, *,
        prune: bool = True, metrics: dict | None = None,
        round_dp: int | None = SCORE_ROUND_DP,
    ) -> DataFrame:
        """(query, rank, doc_id, score) for a WHOLE query batch in ONE
        distributed job — the bm25_topk_multi pattern applied to the
        persisted artifact (round-3 verdict item 8). Per-query ranks
        are over round_dp-rounded scores by default (the round-7
        public ranking contract, matching search_distributed — the
        pruning thresholds carry the corresponding slack).

        Shape: one postings scan bucket-pruned to the UNION of the
        batch's terms, one varint decode per matched block (a term
        shared by q queries decodes once, not q times), per-(term, doc)
        BM25 contributions computed once, replicated to queries via a
        broadcast (query, term) join, summed by (query, doc_id), and
        ranked per query by a row_number the optimizer bounds with
        WindowGroupLimit (each query's partition keeps ≤ k rows before
        the final sort). Amortization vs sequential search_distributed
        calls = shared scan + shared decode + one job's fixed overhead
        for the whole suite (measured in BENCH_r04).

        With prune=True (round-6), per-query block-max thresholds trim
        the shared scan's decode set (wand.pruned_multi): a block is
        decoded only if SOME query still needs it, with the usual
        guaranteed fallback when no query is prunable — so head-term
        queries in the batch stop forcing full decodes of their lists.

        Over live layers this is the steady-state serving path under
        continuous updates: segment blocks union into the shared scan,
        df is the merged df, and tombstones filter at decode time.

        Rank-identical to per-query search_distributed by construction:
        same blocks, same contributions, same (score desc, doc_id asc)
        order (pinned in test_storage.py and test_delta.py)."""
        from pyspark.sql import Window

        spark = self.spark
        empty_schema = "query string, rank long, doc_id long, score double"
        qterms = {name: prepare_query_terms(q) for name, q in queries.items()}
        terms_all = sorted({t for ts in qterms.values() for t in ts})
        if not terms_all or self.doc_count <= 0 or self.avg_doc_len <= 0:
            return local_frame(spark, [], empty_schema)
        df_map = self.term_df_map(terms_all)
        if not df_map:
            return local_frame(spark, [], empty_schema)
        qdf = local_frame(
            spark,
            [(n, t) for n, ts in qterms.items() for t in ts if t in df_map],
            "query string, term string",
        )
        exploded = None
        if prune:
            from vexor_spark.index.wand import pruned_multi

            slack = 1.5 * 10.0 ** (-round_dp) if round_dp is not None else 0.0
            exploded = pruned_multi(
                self, qterms, k, metrics=metrics, theta_slack=slack
            )
        if exploded is None:
            exploded = self._exploded_rows(self._matched_blocks(terms_all))
        contrib = bm25_contribution_col(
            F.col("tf"), F.col("doc_len"), F.col("df"),
            float(self.doc_count), float(self.avg_doc_len),
        )
        scored = (
            exploded.withColumn("contribution", contrib)
            .join(F.broadcast(qdf), "term")
            .groupBy("query", "doc_id")
            .agg(F.sum("contribution").alias("score"))
        )
        if round_dp is not None:
            scored = scored.withColumn("score", F.round("score", round_dp))
        w = Window.partitionBy("query").orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select("query", "rank", F.col("doc_id").cast("long").alias("doc_id"), "score")
        )

    def decorate(self, ranked: DataFrame) -> DataFrame:
        """Attach chunk metadata (broadcast join, reference J6) from
        the current doc table, segment-layer docs included."""
        meta = self.docs_view().select(
            "doc_id", "url", "chunk_index", "preview", "start_line", "end_line"
        )
        return (
            meta.join(F.broadcast(ranked), "doc_id")
            .select(
                "rank", "doc_id", "url", "score", "preview",
                "chunk_index", "start_line", "end_line",
            )
            .orderBy("rank")
        )
