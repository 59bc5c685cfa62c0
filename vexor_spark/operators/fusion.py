"""Rank fusion: RRF hybrid + legacy weighted-sum rerank (SURVEY W2-W7).

RRF (vexor/bm25.py:92-115): fused(doc) =
    0.7·(k+1)/(k + dense_rank) + 0.3·(k+1)/(k + bm25_rank),  k = 60,
where dense_rank is the position in the dense ordering and bm25_rank is
the position among docs with POSITIVE bm25 scores ordered by
(-score, doc_id). A full-outer join + coalesce expresses this exactly.

The deterministic dense leg is the reference's own test oracle: embed a
text as its letter-count vector over a-z and rank by cosine
(tests/integration/test_end_to_end.py:15-30). Dense ordering ties keep
doc_id order (np.argsort stable, search_service.py:594).

Legacy weighted rerank (search_service.py:199-218): over the dense
top-candidate set (clamp max(20, min(2k, 150)), :171-174), fuse
0.7·sem_norm + 0.3·bm25l_norm with max-normalization (:162-168) and
BM25L lexical scores (rank_bm25's BM25L formula, used "to avoid
zero-idf on tiny candidate sets", :185-196).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vexor_spark.constants import (
    RRF_BM25_WEIGHT,
    RRF_DENSE_WEIGHT,
    RRF_K,
)
from vexor_spark.plans.local import local_frame

LETTERS = "abcdefghijklmnopqrstuvwxyz"


def letter_count_cols(text: Column) -> list[Column]:
    """26 letter-count columns of lower(text) — the DummyBackend
    embedding (reference test oracle), pure JVM."""
    low = F.lower(text)
    return [
        (F.length(low) - F.length(F.replace(low, F.lit(ch), F.lit("")))).cast("double")
        for ch in LETTERS
    ]


def letter_cosine_col(text: Column, query_text: str) -> Column:
    """cosine(letter_counts(text), letter_counts(query)) as a Column;
    0.0 when either vector is all-zero."""
    qcounts = [float(query_text.lower().count(ch)) for ch in LETTERS]
    qnorm = sum(c * c for c in qcounts) ** 0.5
    cols = letter_count_cols(text)
    dot = None
    sq = None
    for col, qc in zip(cols, qcounts):
        term = col * F.lit(qc)
        dot = term if dot is None else dot + term
        s = col * col
        sq = s if sq is None else sq + s
    if qnorm == 0:
        return F.lit(0.0)
    return F.when(sq > 0, dot / (F.sqrt(sq) * F.lit(qnorm))).otherwise(F.lit(0.0))


# Hashing-trick dimensionality. Sized like production hashing
# embeddings (Spark MLlib HashingTF defaults to 2^18): the histogram's
# row count is bounded by distinct tokens per doc — NOT by dim — so a
# large dim costs only the ≤dim-row broadcast idf table, while a small
# dim saturates (at 256, a 150-token label covers most buckets, every
# bucket lands in nearly every doc, idf flattens, and the leg decays to
# noise by ~20k docs — measured in EVAL.md round 4).
HASHED_BOW_DIM = 1 << 16


def hashed_bow_query_vec(query: str, dim: int = HASHED_BOW_DIM) -> dict[int, int]:
    """{bucket: count} for a query under the hashing-trick bag-of-words
    backend: BM25 tokens of lower(query), bucketed pmod(xxhash64, dim)
    via the pure-Python XXH64 that is bit-identical to Spark's
    xxhash64 (functions/hashing.py) — so driver-side query vectors and
    JVM-side doc vectors live in the same space."""
    import re as _re

    from vexor_spark.constants import TOKEN_PATTERN_LOWER
    from vexor_spark.functions.hashing import spark_pmod_bucket

    vec: dict[int, int] = {}
    for t in _re.findall(TOKEN_PATTERN_LOWER, query.lower()):
        b = spark_pmod_bucket(t, dim)
        vec[b] = vec.get(b, 0) + 1
    return vec


def hashed_bow_counts(
    docs: DataFrame, dim: int = HASHED_BOW_DIM, text_col: str = "label"
) -> DataFrame:
    """(doc_id, b, c) — per-doc hashed-bucket histogram. Query-
    independent: build once per corpus (InMemoryIndex.hbow_counts
    persists it) so a query suite pays the tokenize/explode scan once,
    not per query."""
    from vexor_spark.functions.tokenize import tokenize_col

    buckets = docs.select(
        "doc_id",
        F.explode_outer(
            F.transform(
                tokenize_col(F.col(text_col)),
                lambda t: F.pmod(F.xxhash64(t), F.lit(dim)),
            )
        ).alias("b"),
    )
    return buckets.groupBy("doc_id", "b").agg(
        F.count("b").cast("double").alias("c")
    )


def hashed_bow_idf_map(counts: DataFrame) -> dict[int, float]:
    """{bucket: idf} from the (doc_id, b, c) histogram — idf_b =
    ln((N+1)/(df_b+0.5)) with df_b = #docs containing bucket b and N =
    #docs. One two-phase agg over the histogram, ≤ dim rows collected;
    InMemoryIndex caches the dict so suites pay it once. IDF weighting
    is what keeps the hashing-trick leg discriminative as the corpus
    grows: unweighted counts let stop-word buckets dominate both norms
    and dots once collisions load every bucket (EVAL.md round 4)."""
    import math

    rows = counts.groupBy("b").agg(
        F.count_distinct("doc_id").alias("df")
    ).collect()
    n = counts.select("doc_id").distinct().count()
    return {
        int(r["b"]): math.log((n + 1) / (int(r["df"]) + 0.5))
        for r in rows
        if r["b"] is not None
    }


def hashed_bow_scores(
    docs: DataFrame,
    query: str,
    dim: int = HASHED_BOW_DIM,
    text_col: str = "label",
    counts: DataFrame | None = None,
    idf_map: dict[int, float] | None = None,
) -> DataFrame:
    """(doc_id, dense_score) — cosine between the IDF-weighted
    dim-bucket hashed bag-of-words (hashing-trick tf-idf) of each
    doc's `text_col` and of the query. The deterministic STRONG dense
    leg (vs the reference's letter-count test backend, which is noise
    past a few hundred docs): needs no model or network yet actually
    discriminates word-soup corpora, making the off/bm25/hybrid eval
    arms meaningful at scale (EVAL.md). IDF weighting (not raw counts)
    is load-bearing at corpus size — see hashed_bow_idf_map.

    Shape: explode token buckets → two-phase count per (doc, bucket) →
    broadcast-join the ≤|query| nonzero query buckets → one more
    two-phase agg for dot and norm. All whole-stage codegen, shuffles
    keyed on doc_id — the same scale-safe pattern as simhash_table.
    Empty docs (explode_outer null bucket) score 0.0."""
    spark = docs.sparkSession
    qvec = hashed_bow_query_vec(query, dim)
    if not qvec:
        return docs.select("doc_id", F.lit(0.0).alias("dense_score"))
    if counts is None:
        # Ad-hoc call: recompute the histogram plan per consumer rather
        # than checkpoint it — a checkpoint here would outlive the call
        # (nothing can unpersist it after the lazy result is returned)
        # and leak executor storage per query. Suites should pass a
        # cached `counts`/`idf_map` (InMemoryIndex.hbow_counts/hbow_idf)
        # so the corpus scan is paid once, not 3× per query.
        counts = hashed_bow_counts(docs, dim, text_col)
    if idf_map is None:
        idf_map = hashed_bow_idf_map(counts)
    # cosine of the IDF-WEIGHTED vectors: doc component c_b·idf_b,
    # query component q_b·idf_b. The dot needs no doc-side idf join —
    # Σ (c·idf)(q·idf) = Σ c·(q·idf²), so idf² folds into the
    # broadcast query column; the norm join is the ≤dim-row idf table.
    # Query buckets absent from the corpus get idf 0 (they cannot
    # match any doc; their exclusion scales every score equally).
    qnorm = (
        sum((c * idf_map.get(b, 0.0)) ** 2 for b, c in qvec.items()) ** 0.5
    )
    if qnorm == 0:
        return docs.select("doc_id", F.lit(0.0).alias("dense_score"))
    qdf = local_frame(
        spark,
        [
            (b, float(c) * idf_map.get(b, 0.0) ** 2)
            for b, c in sorted(qvec.items())
        ],
        "b long, q2 double",
    )
    idf_df = local_frame(
        spark, sorted((int(b), float(v)) for b, v in idf_map.items()), "b long, idf double"
    )
    joined = (
        counts.join(F.broadcast(idf_df), "b", "left")
        .withColumn("w", F.col("c") * F.coalesce(F.col("idf"), F.lit(0.0)))
        .join(F.broadcast(qdf), "b", "left")
    )
    per_doc = joined.groupBy("doc_id").agg(
        F.sum(F.col("c") * F.coalesce(F.col("q2"), F.lit(0.0))).alias("dot"),
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("dnorm"),
    )
    return per_doc.select(
        "doc_id",
        F.when(
            F.col("dnorm") > 0, F.col("dot") / (F.col("dnorm") * F.lit(qnorm))
        )
        .otherwise(F.lit(0.0))
        .alias("dense_score"),
    )


# Count-sketch projection dimensionality for the ANN coarse
# representation of the hashed-BoW vectors (round-5 verdict item 6):
# the 2^16-bucket histogram never materializes as a dense vector —
# each bucket maps to ONE of `SKETCH_DIM` lanes with a ±1 sign
# (count-sketch / feature hashing), which preserves inner products in
# expectation, and the ANN stage only needs enough signal to shortlist
# candidates that the EXACT hbow cosine then reranks.
SKETCH_DIM = 128


def _sketch_lane_col(b: Column, dim: int) -> Column:
    return F.pmod(
        F.xxhash64(F.concat(F.lit("d:"), b.cast("string"))), F.lit(dim)
    ).cast("int")


def _sketch_sign_col(b: Column) -> Column:
    return F.when(
        F.pmod(F.xxhash64(F.concat(F.lit("s:"), b.cast("string"))), F.lit(2)) == 0,
        F.lit(1.0),
    ).otherwise(F.lit(-1.0))


def hashed_bow_sketch(
    counts: DataFrame, idf_map: dict[int, float], dim: int = SKETCH_DIM
) -> DataFrame:
    """(doc_id, emb array<double>[dim]) — count-sketch of each doc's
    idf-weighted hashed-BoW vector: emb[lane(b)] += c_b·idf_b·sign(b),
    lane/sign drawn from xxhash64 of the bucket id (replicated
    driver-side bit-for-bit by hashed_bow_query_sketch via the pure-
    Python XXH64). Two doc_id-keyed aggs + one in-row map expansion —
    no explode beyond the histogram's own rows, no wide literal
    unrolls (the round-3 janino lesson), all codegen except the final
    per-row transform."""
    spark = counts.sparkSession
    idf_df = local_frame(
        spark, sorted((int(b), float(v)) for b, v in idf_map.items()), "b long, idf double"
    )
    weighted = counts.join(F.broadcast(idf_df), "b", "left").select(
        "doc_id",
        _sketch_lane_col(F.col("b"), dim).alias("j"),
        (
            F.col("c")
            * F.coalesce(F.col("idf"), F.lit(0.0))
            * _sketch_sign_col(F.col("b"))
        ).alias("v"),
    )
    per_lane = weighted.groupBy("doc_id", "j").agg(F.sum("v").alias("v"))
    as_map = per_lane.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("j", "v"))).alias("m")
    )
    # try_element_at: missing lane → NULL → 0.0 (plain element_at on a
    # map THROWS under Spark 4 ANSI mode for absent keys).
    return as_map.select(
        "doc_id",
        F.expr(
            f"transform(sequence(0, {dim - 1}),"
            " i -> coalesce(try_element_at(m, i), cast(0.0 as double)))"
        ).alias("emb"),
    )


def hashed_bow_query_sketch(
    query: str,
    idf_map: dict[int, float],
    dim: int = SKETCH_DIM,
    bow_dim: int = HASHED_BOW_DIM,
) -> list[float]:
    """Driver-side sketch of the query under the SAME lane/sign hashes
    as hashed_bow_sketch (pure-Python XXH64 == Spark xxhash64)."""
    from vexor_spark.functions.hashing import spark_pmod_bucket

    out = [0.0] * dim
    for b, c in sorted(hashed_bow_query_vec(query, bow_dim).items()):
        idf = idf_map.get(b, 0.0)
        if idf == 0.0:
            continue
        j = spark_pmod_bucket(f"d:{b}", dim)
        sign = 1.0 if spark_pmod_bucket(f"s:{b}", 2) == 0 else -1.0
        out[j] += float(c) * idf * sign
    return out


def rrf_candidate_budget(k: int, w_dense: float = RRF_DENSE_WEIGHT, rrf_k: int = RRF_K) -> int:
    """Smallest per-leg candidate count T that makes bounded RRF exact.

    Bound argument (the scale-safe replacement for ranking the FULL
    corpus through a single-partition window): let K = rrf_k and
    C = dense-top-T ∪ bm25-top-T (positive scores only, both legs
    ordered by (score desc, doc_id asc)). For any doc x ∉ C both leg
    ranks exceed T, so

        fused(x) < (w_dense + w_bm25)·(K+1)/(K+T) = (K+1)/(K+T).

    The dense leg ranks EVERY doc (bm25.py:102-104), so for any
    d ≤ T the dense-top-d docs are all in C and each has

        fused ≥ w_dense·(K+1)/(K+d)  ≥  (K+1)/(K+T)   iff  d ≤ w_dense·(K+T) − K.

    Choosing T with ⌊w_dense·(K+T)⌋ − K ≥ k guarantees ≥ k candidates
    whose exact fused score is STRICTLY above every non-candidate —
    ties cannot rescue x because the inequality chain is strict on x's
    side. Hence the global fused top-k ⊆ C, and computing exact leg
    ranks for C alone reproduces the full computation's top-k exactly.
    Solving: T = ⌈(K + k)/w_dense⌉ − K (= 40 for k=10, K=60, w=0.7).
    When the corpus has ≤ T docs, C is the whole corpus and the claim
    is trivial.
    """
    import math

    return max(k, int(math.ceil((rrf_k + k) / w_dense)) - rrf_k)


def _beats(score: Column, doc_id: Column, c_score: Column, c_id: Column) -> Column:
    """Row (score, doc_id) precedes candidate (c_score, c_id) in the
    (score desc, doc_id asc) total order."""
    return (score > c_score) | ((score == c_score) & (doc_id < c_id))


def rrf_fused_candidates(
    dense_scored: DataFrame,
    bm25_scored: DataFrame,
    k: int = 10,
    *,
    w_dense: float = RRF_DENSE_WEIGHT,
    w_bm25: float = RRF_BM25_WEIGHT,
    rrf_k: int = RRF_K,
) -> DataFrame:
    """(doc_id, fused) for the ≤2T candidates that can reach the fused
    top-k — exact weighted-RRF (vexor/bm25.py:92-115) without ranking
    the full corpus. Lazy; rrf_topk ranks it.

    Inputs: dense_scored(doc_id, dense_score) over ALL docs,
    bm25_scored(doc_id, score). ONE declarative plan:

    1. per-leg TakeOrdered top-T subplans (T = rrf_candidate_budget —
       the written proof that the fused top-k lives in their union C);
    2. C (≤2T rows) left-joins both legs for candidate scores and is
       BROADCAST against each full leg with the `_beats` theta
       predicate — rank(c) = 1 + #beating rows, reduced by a partial
       (map-side) count per candidate. Linear scans, no global sort,
       no single-partition window, no full-leg shuffle;
    3. the ≤2T fused rows round (F.round, in-plan) and TakeOrdered to
       the final k, numbered in the bounded driver merge.

    Each leg appears three times in the DAG (top-T, candidate fetch,
    beat count), so both are lazy-localCheckpointed: within the single
    job the leg's scoring projection runs ONCE and the three consumers
    read the materialized (doc_id, score) rows — one corpus scan per
    leg instead of ~3 (round-2 verdict item; at 100× the dense leg's
    letter-cosine scan is the dominant cost). Lazy, not eager: no extra
    job, the first consumer materializes it.
    """
    T = rrf_candidate_budget(k, w_dense, rrf_k)
    dense = dense_scored.select(
        F.col("doc_id").cast("long").alias("doc_id"), "dense_score"
    ).localCheckpoint(eager=False)
    bpos = (
        bm25_scored.filter(F.col("score") > 0)
        .select(F.col("doc_id").cast("long").alias("doc_id"), "score")
        .localCheckpoint(eager=False)
    )
    dtop = dense.orderBy(F.desc("dense_score"), F.asc("doc_id")).limit(T)
    btop = bpos.orderBy(F.desc("score"), F.asc("doc_id")).limit(T)
    # ≤2T rows referenced by 3 joins below — materialize once (lazy
    # local checkpoint) so each broadcast doesn't re-run the TakeOrdered
    # legs.
    cands = (
        dtop.select("doc_id").union(btop.select("doc_id")).distinct()
        .localCheckpoint(eager=False)
    )
    # Candidate score fetch WITHOUT shuffling a leg: inner BHJ with the
    # broadcast ≤2T candidate set prunes each full leg map-side; the
    # left joins that reassemble (cid, ds, bs) are then tiny-on-tiny.
    # (A direct cands LEFT JOIN leg would have to build/shuffle the
    # LEG side once it outgrows the auto-broadcast threshold.)
    cand_d = dense.join(F.broadcast(cands), "doc_id").select("doc_id", "dense_score")
    cand_b = bpos.join(F.broadcast(cands), "doc_id").select("doc_id", "score")
    cs = (
        cands.join(F.broadcast(cand_d), "doc_id", "left")
        .join(F.broadcast(cand_b), "doc_id", "left")
        .select(
            F.col("doc_id").alias("cid"),
            F.col("dense_score").alias("ds"),
            F.col("score").alias("bs"),
        )
    )
    dcnt = (
        dense.join(
            F.broadcast(cs.select("cid", "ds")),
            _beats(F.col("dense_score"), F.col("doc_id"), F.col("ds"), F.col("cid")),
        )
        .groupBy("cid")
        .agg(F.count("*").alias("dcnt"))
    )
    bcnt = (
        bpos.join(
            F.broadcast(cs.select("cid", "bs")),
            _beats(F.col("score"), F.col("doc_id"), F.col("bs"), F.col("cid")),
        )
        .groupBy("cid")
        .agg(F.count("*").alias("bcnt"))
    )
    kk = float(rrf_k)
    fused_col = F.when(
        F.col("ds").isNotNull(),
        F.lit(w_dense) * (kk + 1.0) / (kk + F.coalesce("dcnt", F.lit(0)) + 1.0),
    ).otherwise(F.lit(0.0)) + F.when(
        F.col("bs").isNotNull(),
        F.lit(w_bm25) * (kk + 1.0) / (kk + F.coalesce("bcnt", F.lit(0)) + 1.0),
    ).otherwise(F.lit(0.0))
    # dcnt/bcnt are ≤|C| ≤ 2T rows by construction — broadcast them so
    # the final assembly never sort-merge-shuffles the candidate frame.
    return (
        cs.join(F.broadcast(dcnt), "cid", "left")
        .join(F.broadcast(bcnt), "cid", "left")
        .select(F.col("cid").alias("doc_id"), fused_col.alias("fused"))
    )


def rrf_topk(
    dense_scored: DataFrame,
    bm25_scored: DataFrame,
    k: int = 10,
    *,
    w_dense: float = RRF_DENSE_WEIGHT,
    w_bm25: float = RRF_BM25_WEIGHT,
    rrf_k: int = RRF_K,
    round_dp: int | None = None,
) -> DataFrame:
    """(rank, doc_id, fused) — rrf_fused_candidates rounded in-plan
    (F.round) and ranked via the bounded driver merge
    (plans/topk.take_ranked): one action for the whole fusion."""
    from vexor_spark.plans.topk import take_ranked

    fused = rrf_fused_candidates(
        dense_scored, bm25_scored, k, w_dense=w_dense, w_bm25=w_bm25, rrf_k=rrf_k
    )
    if round_dp is not None:
        fused = fused.withColumn("fused", F.round("fused", round_dp))
    ranked = take_ranked(fused, [F.desc("fused"), F.asc("doc_id")], k)
    return ranked.select("rank", "doc_id", "fused")


# --- BM25L (legacy rerank lexical leg) ------------------------------------
# Formula per rank_bm25's BM25L (public package the reference depends on,
# search_service.py:185-196): idf = ln((N+1)/(df+0.5));
# ctd = tf / (1 - b + b*dl/avgdl); s += idf*(k1+1)*(ctd+δ)/(k1+ctd+δ), δ=0.5.
BM25L_DELTA = 0.5


def bm25l_contribution_col(tf, doc_len, df, n_docs: float, avg_doc_len: float) -> Column:
    from vexor_spark.constants import BM25_B, BM25_K1

    idf = F.log((F.lit(n_docs) + 1.0) / (df + 0.5))
    ctd = tf / (1.0 - F.lit(BM25_B) + F.lit(BM25_B) * doc_len / F.lit(avg_doc_len))
    return (
        idf
        * F.lit(BM25_K1 + 1.0)
        * (ctd + F.lit(BM25L_DELTA))
        / (F.lit(BM25_K1) + ctd + F.lit(BM25L_DELTA))
    )


