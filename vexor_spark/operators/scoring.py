"""BM25 top-k scoring as a DataFrame program (SURVEY A5/W1/J2).

Formula contract (vexor/bm25.py:64-89, non-negative-idf Okapi BM25):

    idf  = ln((N - df + 0.5) / (df + 0.5) + 1)
    s    = idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
    score(doc) = Σ over query terms; docs with no matching term absent.

Tie-break: (score desc, doc_id asc) — vexor/services/search_service.py
:176-182. Query terms: tokenize → order-preserving dedup → ≤32
(search_service.py:588-590).

Plan shape: tiny query-term DF broadcast-joined against postings
(partition-pruned by term_bucket when reading a persisted index — the
distributed analog of the reference's PK term seek, vexor/cache.py
:437-443), explode the matched (≤32) posting arrays, column-arithmetic
contribution, one groupBy(doc_id).sum shuffle over matched rows only,
then TakeOrderedAndProject for the top-k.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vexor_spark.constants import BM25_B, BM25_K1
from vexor_spark.functions.tokenize import prepare_query_terms
from vexor_spark.plans.local import local_frame


def bm25_contribution_col(tf, doc_len, df, doc_count: float, avg_doc_len: float):
    """Per-(doc, term) BM25 contribution as a Column (all-double math)."""
    idf = F.log((F.lit(float(doc_count)) - df + 0.5) / (df + 0.5) + 1.0)
    denom = tf + F.lit(BM25_K1) * (
        1.0 - F.lit(BM25_B) + F.lit(BM25_B) * doc_len / F.lit(float(avg_doc_len))
    )
    contrib = idf * tf * F.lit(BM25_K1 + 1.0) / denom
    # denominator <= 0 guard (vexor/bm25.py:85-86); impossible for
    # positive tf/doc_len but kept for formula parity.
    return F.when(denom > 0, contrib).otherwise(F.lit(None))


def query_terms_df(spark: SparkSession, query: str) -> DataFrame:
    """Prepared query terms as a 1-column DF (driver-side prep, T11)."""
    terms = prepare_query_terms(query)
    return local_frame(spark, [(t,) for t in terms], "term string")


def score_postings_df(
    postings: DataFrame,
    query: str | list[str],
    doc_count: int,
    avg_doc_len: float,
) -> DataFrame:
    """(doc_id, score) over a postings table
    (term, df, postings array<struct<doc_id,tf,doc_len>>)."""
    spark = postings.sparkSession
    terms = prepare_query_terms(query) if isinstance(query, str) else list(query)
    if not terms or doc_count <= 0 or avg_doc_len <= 0:
        # Empty result with the right schema (vexor/bm25.py:72-73).
        return local_frame(spark, [], "doc_id long, score double")
    qdf = local_frame(spark, [(t,) for t in terms], "term string")
    matched = postings.join(F.broadcast(qdf), "term")
    exploded = matched.select(
        F.col("df").cast("double").alias("df"),
        F.explode("postings").alias("p"),
    ).select(
        F.col("p.doc_id").alias("doc_id"),
        F.col("p.tf").cast("double").alias("tf"),
        F.col("p.doc_len").cast("double").alias("doc_len"),
        "df",
    )
    contrib = bm25_contribution_col(
        F.col("tf"), F.col("doc_len"), F.col("df"), float(doc_count), float(avg_doc_len)
    )
    return (
        exploded.withColumn("contribution", contrib)
        .groupBy("doc_id")
        .agg(F.sum("contribution").alias("score"))
    )


def top_k(scored: DataFrame, k: int, *, round_dp: int | None = None) -> DataFrame:
    """(rank, doc_id, score) — deterministic (score desc, doc_id asc).

    round_dp: round scores *before* ranking for cross-engine-stable
    order (used only by the SQL-oracle parity harness; the engine path
    keeps full doubles).
    """
    from vexor_spark.plans.topk import take_ranked

    score = F.col("score")
    if round_dp is not None:
        scored = scored.withColumn("score", F.round(score, round_dp))
    # orderBy+limit compiles to TakeOrderedAndProject (partial per-
    # partition top-k, merged on the driver) — no global sort; rank
    # positions assigned in the same bounded driver merge (plans/topk.py).
    ranked = take_ranked(
        scored.select("doc_id", "score"), [F.desc("score"), F.asc("doc_id")], k
    )
    return ranked.select("rank", "doc_id", "score")


def bm25_topk_from_docs(
    docs: DataFrame,
    query: str,
    k: int = 10,
    *,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    round_dp: int | None = None,
) -> DataFrame:
    """(rank, doc_id, score) straight from a document table — the
    postings build inlined (tokenize → tf → df → contribution → sum).
    Catalyst sees one declarative plan: the tf aggregation is two-phase,
    the query-term join is a broadcast, and top-k is
    TakeOrderedAndProject. Used by the oracle-parity catalog and as the
    no-index query path (reference's in-memory scorer analog,
    search_service.py:129-154).
    """
    return bm25_topk_multi(
        docs, {"q": query}, k, doc_id_col=doc_id_col, text_col=text_col, round_dp=round_dp
    ).drop("query")


def bm25_topk_multi(
    docs: DataFrame,
    queries: dict[str, str],
    k: int = 10,
    *,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    round_dp: int | None = None,
) -> DataFrame:
    """(query, rank, doc_id, score) for a batch of queries in ONE plan:
    the query-term table carries a query label, scoring groups by
    (query, doc_id), ranking is a window partitioned by query.

    Matched (doc, term, tf) rows come from explode + an InSet filter on
    the ≤32·|queries| query terms + a two-phase count aggregation — all
    whole-stage codegen, and non-query tokens are dropped BEFORE any
    aggregation or exchange (round-7; guide §2.3/§4.1). The previous
    shape computed full-corpus term_freqs (array_sort + interpreted
    HOF run-length over every token) and then broadcast-joined the
    query terms — paying the whole-vocabulary tf cost for ≤32 terms."""
    from pyspark.sql import Window

    from vexor_spark.operators.postings import tokenize_docs

    spark = docs.sparkSession
    qrows = [
        (name, t)
        for name, q in queries.items()
        for t in prepare_query_terms(q)
    ]
    # localCheckpoint (lazy): the stats action below materializes the
    # tokenized corpus ONCE to executor-local storage; the scoring plan
    # then reads the checkpoint instead of re-running the tokenizer —
    # one tokenize pass per batch instead of two, with no persist
    # lingering past DataFrame GC (no CacheManager plan-reuse leaks).
    tokenized = tokenize_docs(
        docs.select(F.col(doc_id_col).alias("doc_id"), F.col(text_col).alias("document"))
    ).localCheckpoint(eager=False)
    stats = tokenized.agg(
        F.count("*").alias("n"), F.avg("doc_len").alias("avgdl")
    ).collect()[0]
    doc_count, avg_doc_len = int(stats["n"]), float(stats["avgdl"] or 0.0)
    if not qrows or doc_count <= 0 or avg_doc_len <= 0:
        return local_frame(spark, [], "query string, rank long, doc_id long, score double")
    qdf = local_frame(spark, qrows, "query string, term string")
    terms_all = sorted({t for _, t in qrows})
    tf = (
        tokenized.select("doc_id", "doc_len", F.explode("tokens").alias("term"))
        .filter(F.col("term").isin(terms_all))
        .groupBy("doc_id", "doc_len", "term")
        .agg(F.count("*").cast("int").alias("tf"))
    )
    matched = tf.join(F.broadcast(qdf), "term")
    # df per term over matched rows == full-corpus document frequency
    # (tf has exactly one row per (doc, term)). ≤ 32·|queries| rows →
    # broadcast back; without the hint Catalyst can't see the bound and
    # plans a SortMergeJoin that re-shuffles every matched row.
    dfreq = matched.groupBy("query", "term").agg(F.count("*").alias("df"))
    contrib = bm25_contribution_col(
        F.col("tf").cast("double"),
        F.col("doc_len").cast("double"),
        F.col("df").cast("double"),
        float(doc_count),
        float(avg_doc_len),
    )
    scored = (
        matched.join(F.broadcast(dfreq), ["query", "term"])
        .withColumn("contribution", contrib)
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


def score_postings_local(
    query_terms: list[str],
    postings: dict[str, list[tuple[int, int, int]]],
    doc_count: int,
    avg_doc_len: float,
) -> dict[int, float]:
    """Driver-side scorer over already-fetched posting lists — the
    low-latency path when matched lists are small (mirrors the
    reference's in-memory scorer, search_service.py:129-154). Same
    formula, plain Python floats.
    """
    if doc_count <= 0 or avg_doc_len <= 0:
        return {}
    scores: dict[int, float] = {}
    for term in query_terms:
        plist = postings.get(term, ())
        if not plist:
            continue
        df = len(plist)
        idf = math.log((doc_count - df + 0.5) / (df + 0.5) + 1.0)
        for doc_id, tf, doc_len in plist:
            denom = tf + BM25_K1 * (1.0 - BM25_B + BM25_B * doc_len / avg_doc_len)
            if denom <= 0:
                continue
            scores[doc_id] = scores.get(doc_id, 0.0) + idf * tf * (BM25_K1 + 1.0) / denom
    return scores
