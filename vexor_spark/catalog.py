"""Driver-facing query catalog: paired (Spark DataFrame program, DuckDB
oracle SQL) definitions over the driver's pre-registered tables
(`documents`, `embeddings`).

Every Spark query and its SQL string implement the *same* reference
semantics (tokenizer = bm25.py:36 regex path; BM25 = bm25.py:64-89;
tie-break = search_service.py:176-182). Scores are rounded to
SCORE_ROUND_DP *before* ranking on both sides so float sum-order noise
cannot flip ranks across engines; ties at that precision break by
doc_id asc in both.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vexor_spark.constants import BM25_B, BM25_K1, SCORE_ROUND_DP, TOKEN_PATTERN_LOWER
from vexor_spark.functions.tokenize import prepare_query_terms
from vexor_spark.operators.postings import term_freqs, tokenize_docs
from vexor_spark.operators.scoring import bm25_topk_multi

# Queries whose terms live in the documents tables' vocabulary.
FLAGSHIP_QUERY = "spark join window"
MULTI_QUERIES = {
    "q_hash": "fast hash merge table",
    "q_cust": "customer query filter",
    "q_vec": "vector stream batch",
    "q_dup": "dup key scan",
}

_SQL_TOKENIZE = (
    f"SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_PATTERN_LOWER}') AS toks\n"
    "  FROM documents"
)

_SQL_TF = f"""
tok AS (
  {_SQL_TOKENIZE}
),
tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
  GROUP BY doc_id, term
)"""


# Widening floor: only repartition when each target task would carry at
# least this much scan input. Below it the exchange + N-task scheduling
# overhead exceeds the serial-kernel cost it removes (interleaved A/B:
# +20% on the sf0.1 suite where docs = 0.59 MB/32 cores = 19 KB/task,
# −40% at 10× where it is 186 KB/task). Expressed per task, so the rule
# is cluster-size-portable, not a local[32] constant.
MIN_WIDEN_BYTES_PER_TASK = 64 * 1024


def widen_undersplit_scan(df: DataFrame) -> DataFrame:
    """Lift an under-split scan to cluster parallelism.

    The catalog tables arrive as a handful of parquet files whose row
    groups cannot be split further, so the scan yields 1-2 partitions
    regardless of cluster size — and everything fed by it (Arrow
    kernels, tokenizers, the AST chunker) runs on 1-2 of the N cores.
    One round-robin exchange of the scan output (cheap: the pruned
    columns only — projection and parquet predicate pushdown both pass
    through a Repartition) restores N-way parallelism. Scale-adaptive
    by construction, twice over: the target is the cluster's
    defaultParallelism, and the exchange is added only when the scan
    is big enough that every target task clears a per-task work floor
    (tiny inputs keep their pipelined 1-2-partition plan). A scan that
    is already at least cluster-wide (normal production file layout)
    is returned untouched.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # stats unavailable — keep the scan as is
        return df
    if size < MIN_WIDEN_BYTES_PER_TASK * target:
        return df
    return df.repartition(target)


def docs_table(spark: SparkSession, sf_dir: str, *, widen: bool = True) -> DataFrame:
    """`widen=False` opts a caller out of the scan widening: paths that
    are pure whole-stage codegen over few columns and already sub-second
    (the explode+InSet BM25 legs) measured the exchange as a net loss
    (+9% at 10× sf0.1), while every Python-kernel consumer wins big."""
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return widen_undersplit_scan(df) if widen else df


def embeddings_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT widened: every embeddings consumer (cosine/ANN/RRF dense leg)
    # is either a single codegen fold pass or a one-batch Arrow kernel
    # over ≤tens of MB; the interleaved 10× A/B measured the exchange as
    # +27-36% on cosine_topk / ann_lsh_topk with no winner among them.
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _tokenized(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = docs_table(spark, sf_dir)
    return tokenize_docs(docs.select("doc_id", F.col("text").alias("document")))


# --- catalog entries -------------------------------------------------------


def q_term_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc term frequencies (SURVEY T3/A3)."""
    tf = term_freqs(_tokenized(spark, sf_dir).select("doc_id", "doc_len", "tokens"))
    return tf.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "term",
        F.col("tf").cast("long").alias("tf"),
    )


SQL_TERM_TF = f"""WITH {_SQL_TF}
SELECT doc_id::BIGINT AS doc_id, term, tf FROM tf"""


def q_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token counts (bm25_doc_len, index_service.py:1042)."""
    return _tokenized(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("doc_len").cast("long").alias("doc_len"),
    )


SQL_DOCLEN = f"""WITH tok AS (
  {_SQL_TOKENIZE}
)
SELECT doc_id::BIGINT AS doc_id, len(toks)::BIGINT AS doc_len FROM tok"""


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_count, avg_doc_len) — vexor/cache.py:1475-1483 (A1)."""
    return _tokenized(spark, sf_dir).agg(
        F.count("*").cast("long").alias("doc_count"),
        F.round(F.avg("doc_len"), SCORE_ROUND_DP).alias("avg_doc_len"),
    )


SQL_CORPUS_STATS = f"""WITH tok AS (
  {_SQL_TOKENIZE}
)
SELECT count(*)::BIGINT AS doc_count,
       round(avg(len(toks)), {SCORE_ROUND_DP}) AS avg_doc_len
FROM tok"""


def q_term_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary stats: document frequency + total tf per term (A2)."""
    tf = term_freqs(_tokenized(spark, sf_dir).select("doc_id", "doc_len", "tokens"))
    return tf.groupBy("term").agg(
        F.count("*").cast("long").alias("df"),
        F.sum("tf").cast("long").alias("total_tf"),
    )


SQL_TERM_DF = f"""WITH {_SQL_TF}
SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS total_tf
FROM tf GROUP BY term"""


def _bm25_sql(queries: dict[str, str], k: int, *, single: bool) -> str:
    """DuckDB BM25 top-k mirroring bm25_topk_multi exactly."""
    qvalues = ",\n         ".join(
        f"('{name}', '{term}')"
        for name, q in queries.items()
        for term in prepare_query_terms(q)
    )
    k1p1 = BM25_K1 + 1.0
    one_minus_b = 1.0 - BM25_B
    cols = "rank, doc_id, score" if single else "query, rank, doc_id, score"
    return f"""WITH {_SQL_TF},
dl AS (
  SELECT doc_id, len(toks)::BIGINT AS doc_len FROM tok
),
stats AS (
  SELECT count(*)::BIGINT AS doc_count, avg(doc_len) AS avg_doc_len FROM dl
),
q(query, term) AS (
  VALUES {qvalues}
),
matched AS (
  SELECT q.query, tf.doc_id, tf.term, tf.tf, dl.doc_len
  FROM tf JOIN q USING (term) JOIN dl USING (doc_id)
),
dfreq AS (
  SELECT query, term, count(*)::BIGINT AS df FROM matched GROUP BY query, term
),
scored AS (
  SELECT m.query, m.doc_id,
         round(sum(
           ln((s.doc_count - d.df + 0.5) / (d.df + 0.5) + 1.0)
           * m.tf * {k1p1}
           / (m.tf + {BM25_K1} * ({one_minus_b} + {BM25_B} * m.doc_len / s.avg_doc_len))
         ), {SCORE_ROUND_DP}) AS score
  FROM matched m
  JOIN dfreq d ON m.query = d.query AND m.term = d.term
  CROSS JOIN stats s
  GROUP BY m.query, m.doc_id
),
ranked AS (
  SELECT query,
         row_number() OVER (PARTITION BY query ORDER BY score DESC, doc_id ASC)::BIGINT AS rank,
         doc_id::BIGINT AS doc_id, score
  FROM scored
)
SELECT {cols} FROM ranked WHERE rank <= {k}"""


def q_bm25_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for the flagship query (A5 + W1 + J2)."""
    return bm25_topk_multi(
        docs_table(spark, sf_dir, widen=False),
        {"q": FLAGSHIP_QUERY},
        10,
        round_dp=SCORE_ROUND_DP,
    ).drop("query")


SQL_BM25_TOP10 = _bm25_sql({"q": FLAGSHIP_QUERY}, 10, single=True)


def q_bm25_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched BM25: 4 queries scored in one plan, top-5 each."""
    return bm25_topk_multi(
        docs_table(spark, sf_dir, widen=False), MULTI_QUERIES, 5, round_dp=SCORE_ROUND_DP
    )


SQL_BM25_MULTI = _bm25_sql(MULTI_QUERIES, 5, single=False)


# Rare high-ub anchor ('dup': df=25 of 500 at sf0.01) + long common
# list ('join': df=394) — the shape where block-max pruning ENGAGES
# (wand.py rule walk-through: eligible, not bound-skipped, unprunable
# volume under the cap) rather than falling back, so the oracle gate
# certifies the engaged pruned path, not just the skips.
PRUNED_QUERY = "dup join"


def q_bm25_pruned_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 answered through the executor route of
    `PersistedIndex.search_distributed(prune=True)`: build the persisted
    block+varint artifact from the documents table, then block-max
    pruning with the driver-side θ walk (index/wand.py). The executor
    route is called directly — at catalog sizes search_distributed
    would answer on the driver executor, and this entry gates the Spark
    pipeline. Same scoring semantics as q_bm25_top10, so the DuckDB
    oracle (_bm25_sql) gates the artifact encode → bucket-pruned scan →
    decode → prune → rescore pipeline end-to-end. Scores round 6dp
    BEFORE ranking on both sides (the cross-engine determinism
    contract). The artifact is cached under /tmp per sf_dir (testdata
    is immutable), format version and block size (a codec change
    writes a new one)."""
    import hashlib
    import json as _json
    import tempfile
    from pathlib import Path

    from vexor_spark.functions.codec import POSTING_BLOCK_SIZE
    from vexor_spark.functions.tokenize import prepare_query_terms
    from vexor_spark.index.storage import (
        FORMAT_VERSION,
        PersistedIndex,
        _sorted_block_rows,
    )

    key = f"{sf_dir}|v{FORMAT_VERSION}|b{POSTING_BLOCK_SIZE}"
    idx_dir = Path(tempfile.gettempdir()) / (
        "vexor_cat_idx_" + hashlib.md5(key.encode()).hexdigest()[:10]
    )
    if not (idx_dir / "meta.json").exists():
        tokenized = _tokenized(spark, sf_dir).localCheckpoint(eager=False)
        stats = tokenized.agg(
            F.count("*").alias("n"), F.avg("doc_len").alias("a")
        ).collect()[0]
        n, avgdl = int(stats["n"]), float(stats["a"] or 0.0)
        from vexor_spark.operators import postings as postings_mod

        tf = postings_mod.term_freqs_build(
            tokenized.select("doc_id", "doc_len", "tokens")
        )
        blocks = _sorted_block_rows(
            tf, avgdl if avgdl > 0 else 1.0, 4, POSTING_BLOCK_SIZE
        ).persist()
        blocks.write.mode("overwrite").partitionBy("term_bucket").parquet(
            str(idx_dir / "postings")
        )
        blocks.groupBy("term", "term_bucket").agg(
            F.first("df").alias("df"), F.max("block_ub").alias("max_kernel")
        ).write.mode("overwrite").partitionBy("term_bucket").parquet(
            str(idx_dir / "dict")
        )
        blocks.unpersist()
        tokenized.select("doc_id", "doc_len").write.mode("overwrite").parquet(
            str(idx_dir / "docs")
        )
        (idx_dir / "meta.json").write_text(_json.dumps({
            "format_version": FORMAT_VERSION,
            "term_buckets": 4,
            "block_size": POSTING_BLOCK_SIZE,
            "doc_count": n,
            "avg_doc_len": avgdl,
            "ub_avg_doc_len": avgdl,
        }))
    pidx = PersistedIndex(spark, idx_dir)
    ranked = pidx._search_executor(
        prepare_query_terms(PRUNED_QUERY), 10, prune=True, round_dp=SCORE_ROUND_DP
    )
    return ranked.select(
        F.col("rank").cast("long").alias("rank"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("score").cast("double").alias("score"),
    )


SQL_BM25_PRUNED_TOP10 = _bm25_sql({"q": PRUNED_QUERY}, 10, single=True)


# --- registry --------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "term_tf": q_term_tf,
    "doclen": q_doclen,
    "corpus_stats": q_corpus_stats,
    "term_df": q_term_df,
    "bm25_top10": q_bm25_top10,
    "bm25_multi": q_bm25_multi,
    "bm25_pruned_top10": q_bm25_pruned_top10,
}

ORACLE_SQL: dict[str, str] = {
    "term_tf": SQL_TERM_TF,
    "doclen": SQL_DOCLEN,
    "corpus_stats": SQL_CORPUS_STATS,
    "term_df": SQL_TERM_DF,
    "bm25_top10": SQL_BM25_TOP10,
    "bm25_multi": SQL_BM25_MULTI,
    "bm25_pruned_top10": SQL_BM25_PRUNED_TOP10,
}
