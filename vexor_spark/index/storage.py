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

Posting lists are cut into fixed-size blocks, each independently
delta-gap+varint encoded and carrying its doc-id range and max BM25
contribution kernel. Partitioning by pmod(xxhash64(term), B) is the
distributed analog of the reference's PK term seek
(vexor/cache.py:437-443,476-477): a query's ≤32 terms prune to ≤32
bucket dirs; Parquet row-group min/max stats on `term` skip within a
bucket; block rows let block-max pruning skip work BEFORE decoding.

Query paths:
- `search_local` — zero-Spark-job driver path: Python XXH64 buckets the
  terms, pyarrow reads only those partitions, decode+score in Python
  (the serving path; analog of vexor/cache.py:1492-1535 →
  bm25.score_postings).
- `search_distributed(prune=False)` — decode matched blocks executor-
  side, explode, column-arithmetic BM25, one groupBy(doc_id).
- `search_distributed(prune=True)` — block-max pruning (exact, see
  wand.py): a θ lower bound from the highest-impact term's own top-k,
  candidate generation from only the blocks whose upper bound can reach
  θ, exact rescore restricted to candidates.
"""

from __future__ import annotations

import json
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
from vexor_spark.operators.scoring import (
    bm25_contribution_col,
    score_postings_local,
    top_k,
)
from vexor_spark.plans.local import local_frame

FORMAT_VERSION = 2  # plays the role of CACHE_VERSION (vexor/cache.py:28)


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
    doc_table = docs.select(
        "doc_id", "url", "chunk_index", "label", "preview",
        "start_line", "end_line", "doc_len",
    ).persist()
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
    return {
        "docs": doc_count,
        "avg_doc_len": avgdl,
        "secs": round(time.time() - t0, 3),
        "stage_secs": stage_secs,
    }


class PersistedIndex:
    # Single-layer marker: the θ machinery's driver-side block METADATA
    # covers the ENTIRE index, so WAND candidate generation can run on
    # the driver (wand.pruned_scores) — a SegmentedIndex's metadata
    # covers only the base layer (segment-layer passing blocks would be
    # missed, an unsound candidate set), so it keeps the Spark pass.
    _single_layer = True

    def __init__(self, spark: SparkSession, index_dir: str | Path):
        self.spark = spark
        self.dir = Path(index_dir)
        meta = json.loads((self.dir / "meta.json").read_text())
        if meta["format_version"] != FORMAT_VERSION:
            raise ValueError(
                f"index format {meta['format_version']} != engine {FORMAT_VERSION}"
            )
        self.doc_count: int = meta["doc_count"]
        self.avg_doc_len: float = meta["avg_doc_len"]
        self.term_buckets: int = meta["term_buckets"]
        self.block_size: int = meta.get("block_size", POSTING_BLOCK_SIZE)
        # Stored block_ub / max_kernel were computed at encode time with
        # `ub_avg_doc_len` (incremental merges keep the original basis,
        # merge.py). Kernels grow with avgdl and k(a2)/k(a1) ≤ a2/a1, so
        # inflating stored bounds by avgdl_now / basis keeps every
        # pruning bound a true upper bound under drift.
        basis = float(meta.get("ub_avg_doc_len", self.avg_doc_len) or 0.0)
        self.ub_factor: float = (
            max(1.0, self.avg_doc_len / basis) if basis > 0 else 1.0
        )
        # Driver-side LRU of per-term block rows (the analog of the
        # reference's SQLite postings reuse across searches,
        # vexor/cache.py:437-477): repeated query terms skip the
        # parquet read entirely. Entries: term -> (block rows, df);
        # absent terms cache as ([], 0) so misses are also one-shot.
        # Bounded; invalidated by constructing a fresh PersistedIndex
        # (incremental merges rewrite files — reopen after updates,
        # like the reference reopens its SQLite cache).
        self._term_cache: "dict[str, tuple[list, int]]" = {}
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

    def _matched_blocks(self, terms: list[str]) -> DataFrame:
        """Block rows for the query terms — bucket partition pruning +
        row-group term stats do the seeking. `_layer` = 0 marks the
        base layer: the pruning machinery (wand.py) is shared with
        SegmentedIndex, whose block frame unions segment layers in, so
        (term, _layer, block_id) is the cross-index block key."""
        buckets = sorted(set(term_buckets_for(self.spark, terms, self.term_buckets).values()))
        return self.postings.filter(
            F.col("term_bucket").isin(buckets) & F.col("term").isin(terms)
        ).withColumn("_layer", F.lit(0))

    def _term_blocks_for_theta(self, t_star: str):
        """(block METADATA rows of t_star, excluded-doc-id array or
        None) for the driver-side θ machinery (wand). Metadata rows are
        (block_id, first, last, block_ub, n) — NO blobs: the θ walk
        typically decodes one block and the seed probe a handful, while
        a head term carries thousands of blocks whose encoded payloads
        dominated the old eager read (round-6 verdict #2: the probe
        cost the head class +13% at 2M for zero wins). Blobs are
        fetched per block via _theta_blobs. The base index has no
        tombstones, so nothing is excluded."""
        if t_star in self._term_cache:
            blocks, _df = self._term_cache[t_star]
            return [b[:5] for b in blocks], None
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
        return meta, None

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
        import pyarrow.dataset as pads

        buckets = sorted(set(term_buckets_for(self.spark, terms, self.term_buckets).values()))
        return self._dataset(subdir).to_table(
            columns=columns,
            filter=pads.field("term_bucket").isin(buckets) & pads.field("term").isin(terms),
        )

    def term_dict(self, terms: list[str]) -> dict[str, tuple[int, float]]:
        """{term: (df, max_kernel)} via pyarrow (tiny read, no Spark job)."""
        tbl = self._arrow_read("dict", terms, ["term", "df", "max_kernel"])
        return {
            t: (int(d), float(mk))
            for t, d, mk in zip(
                tbl.column("term").to_pylist(),
                tbl.column("df").to_pylist(),
                tbl.column("max_kernel").to_pylist(),
            )
        }

    def warm(self, top_df_terms: int = 256) -> int:
        """Pre-decode the highest-df terms' contribution vectors — the
        cache warmup a long-lived serving process runs at open. High-df
        terms dominate cold-query tail latency (their lists are the
        biggest decodes); rare terms stay cheap cold. Stops early when
        the contribution cache budget is half-spent so warmed entries
        don't evict each other. Returns the number of terms warmed."""
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
        """[(rank, doc_id, score)] — zero-Spark-job serving path.

        Ranks on round_dp-rounded scores by default (the round-7 public
        ranking contract — raw float order is summation-order dependent
        at the ulp level; rounded order + doc_id tiebreak is stable
        across arms). prune=True runs exact term-at-a-time max-score
        pruning with block skipping (see _search_local_pruned — its
        freeze threshold carries the rounding slack so boundary-tie
        docs are never dropped); prune=False decodes every matched
        list (the reference's own flow, vexor/cache.py:1492-1535 →
        bm25.score_postings) — kept for equivalence testing.
        """
        terms = prepare_query_terms(query)
        if not terms or self.doc_count <= 0 or self.avg_doc_len <= 0:
            return []
        by_term, dfs = self._term_blocks_cached(terms)
        if prune:
            slack = 1.5 * 10.0 ** (-round_dp) if round_dp is not None else 0.0
            ids, scores = self._search_local_pruned(
                terms, by_term, dfs, k, theta_slack=slack
            )
        else:
            ids, scores = self._score_all_np(terms, by_term, dfs)
        return _topk_np(ids, scores, k, round_dp=round_dp)

    def _term_blocks_cached(self, terms: list[str]):
        """{term: sorted block rows}, {term: df} — LRU-cached pyarrow
        read; only cache-miss terms touch parquet."""
        missing = [t for t in terms if t not in self._term_cache]
        if missing:
            tbl = self._arrow_read(
                "postings",
                missing,
                ["term", "df", "block_id", "block_first", "block_last",
                 "block_ub", "n", "blob"],
            )
            fresh: dict[str, tuple[list, int]] = {t: ([], 0) for t in missing}
            for t, df_, bid, bf, bl, bub, n_, blob in zip(
                tbl.column("term").to_pylist(),
                tbl.column("df").to_pylist(),
                tbl.column("block_id").to_pylist(),
                tbl.column("block_first").to_pylist(),
                tbl.column("block_last").to_pylist(),
                tbl.column("block_ub").to_pylist(),
                tbl.column("n").to_pylist(),
                tbl.column("blob").to_pylist(),
            ):
                fresh[t] = (fresh[t][0], int(df_))
                fresh[t][0].append((bid, bf, bl, bub, int(n_), blob))
            for t, (blocks, df_) in fresh.items():
                blocks.sort()
                self._term_cache[t] = (blocks, df_)
        by_term: dict[str, list] = {}
        dfs: dict[str, int] = {}
        for t in terms:
            entry = self._term_cache.pop(t)  # re-insert: LRU recency
            self._term_cache[t] = entry
            blocks, df_ = entry
            if blocks:
                by_term[t] = blocks
                dfs[t] = df_
        # evict AFTER assembly (current query's terms were just
        # re-inserted, so the oldest entries are from prior queries).
        while len(self._term_cache) > self.term_cache_max:
            self._term_cache.pop(next(iter(self._term_cache)))
        return by_term, dfs

    def _term_contribs(self, term: str, blocks: list, dfs: dict[str, int], *, full: bool = True):
        """Decode a term's blocks (ONE batch numpy pass over all blobs)
        → (doc_ids, contributions). `full=True` (the blocks are the
        term's ENTIRE list) results memoize — idf/avgdl are fixed per
        index instance, so contributions are reusable across queries;
        partial (pruned-subset) decodes bypass the cache."""
        import math

        import numpy as np

        from vexor_spark.constants import BM25_B, BM25_K1
        from vexor_spark.functions.codec import decode_blocks_np

        if full and term in self._contrib_cache:
            return self._contrib_cache[term]
        n, avgdl = self.doc_count, self.avg_doc_len
        idf = math.log((n - dfs[term] + 0.5) / (dfs[term] + 0.5) + 1.0)
        ids, tfs, dls = decode_blocks_np([b[5] for b in blocks], [b[4] for b in blocks])
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

        Doc ids are dense row numbers in [0, doc_count), so the
        accumulator is a flat array indexed by doc id: per-term
        `acc[ids] += cs` is safe (ids are unique within one posting
        list) and adds contributions in the same term order as the
        former concatenate+unique+add.at, so float sums are
        bit-identical — without any O(n log n) sort. Serving-path
        only: the distributed query path never builds a dense
        per-corpus array."""
        import numpy as np

        acc = np.zeros(self.doc_count, np.float64)
        seen = np.zeros(self.doc_count, bool)
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

        Accumulation is a dense array indexed by doc id (dense row
        numbers — see _score_all_np): per-term adds happen in the same
        order as the former concatenate/unique/add.at plan, so sums
        stay bit-identical, and the freeze check is an O(doc_count)
        partition instead of repeated O(n log n) uniques.
        """
        import math

        import numpy as np

        n = self.doc_count
        idf = {
            t: math.log((n - dfs[t] + 0.5) / (dfs[t] + 0.5) + 1.0)
            for t in terms
            if t in by_term
        }
        # ub_factor corrects stored block_ub for avgdl drift since encode.
        ub = {t: idf[t] * max(b[3] for b in by_term[t]) * self.ub_factor for t in idf}
        order = sorted(idf, key=lambda t: -ub[t])
        remaining = sum(ub.values())

        acc = np.zeros(n, np.float64)
        seen = np.zeros(n, bool)
        frozen: np.ndarray | None = None  # sorted frozen doc ids
        frozen_mask: np.ndarray | None = None
        processed_ub = 0.0

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
        return uniq, acc[uniq]

    def _exploded_rows(self, blocks: DataFrame) -> DataFrame:
        """blocks → (term, df, doc_id, tf, doc_len) posting rows — the
        decode step shared by single-query scoring and the batch path
        (SegmentedIndex overrides this with its tombstone-filtered
        decode; wand.pruned_multi scores whatever frame it returns).
        One fused mapInPandas kernel: vectorized varint decode +
        np.repeat replication (codec.explode_blocks_rows) — no
        per-posting Python structs, no JVM explode."""
        from vexor_spark.functions.codec import explode_blocks_rows

        return explode_blocks_rows(blocks)

    def _score_blocks(
        self, blocks: DataFrame, candidates: DataFrame | None = None
    ) -> DataFrame:
        """blocks (term, df, blob, ...) → (doc_id, score). `candidates`
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
        """(rank, doc_id, score) DataFrame — executor-side decode+score;
        ranks on round_dp-rounded scores by default (round-7 public
        ranking contract: raw distributed float sums are shuffle-order
        dependent at the ulp level; rounding + doc_id tiebreak makes
        the order partitioning-invariant — pass round_dp=None for raw
        scores/raw order). With prune=True (the default since round
        5), block-max pruned (exact — see wand.py). Pruning is now
        free when it cannot win:
        a driver-side dict check skips the θ pass whenever no query
        term has df ≥ k (wand.pruned_scores), so tail-term queries pay
        the unpruned price and head-term queries skip decoding most
        blocks. `metrics` (with prune) collects the pruning counters —
        opt-in, costs extra count() actions (wand.pruned_scores
        docstring)."""
        terms = prepare_query_terms(query)
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

        Rank-identical to per-query search_distributed by construction:
        same blocks, same contributions, same (score desc, doc_id asc)
        order (pinned in test_storage.py)."""
        from pyspark.sql import Window

        spark = self.spark
        qterms = {name: prepare_query_terms(q) for name, q in queries.items()}
        terms_all = sorted({t for ts in qterms.values() for t in ts})
        if not terms_all or self.doc_count <= 0 or self.avg_doc_len <= 0:
            return local_frame(
                spark, [], "query string, rank long, doc_id long, score double"
            )
        qdf = local_frame(
            spark,
            [(n, t) for n, ts in qterms.items() for t in ts],
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
        """Attach chunk metadata (broadcast join, reference J6)."""
        meta = self.docs.select(
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
