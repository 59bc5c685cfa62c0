"""Catalog batch 2: fusion, similarity search, dedup family, text
analysis, chunking, and event-window operators — each as a Spark
DataFrame program paired with an exactly-equivalent DuckDB oracle SQL.

Cross-engine determinism rules used throughout:
- the shared polynomial string hash (textstats.poly_hash_col);
- sequential left-to-right float reductions (Spark `aggregate` ≡ DuckDB
  `list_reduce`) so dot products/norms are bit-identical;
- scores rounded (6 dp) BEFORE ranking; ranking ties break by id asc.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from vexor_spark.catalog import FLAGSHIP_QUERY, docs_table, embeddings_table
from vexor_spark.constants import SCORE_ROUND_DP, TOKEN_PATTERN_LOWER
from vexor_spark.functions.tokenize import prepare_query_terms, tokenize_col
from vexor_spark.operators import similarity as sim
from vexor_spark.operators.dedup import (
    MINHASH_PARAMS,
    SIMHASH_BITS,
    exact_dup_groups,
    minhash_signatures,
    near_dup_pairs,
    simhash_near_dup_pairs,
    simhash64_near_dup_pairs,
    simhash_table,
)
from vexor_spark.operators.fusion import rrf_topk
from vexor_spark.operators.textstats import (
    BPE_PATTERN,
    HASH_MOD,
    LANG_ORDER,
    LANG_STOPWORDS,
    bpe_token_count_col,
    fingerprint_col,
    lang_id_from_stats,
    quality_from_stats,
    token_stats_table,
    ws_token_count_col,
)
from vexor_spark.plans.local import local_frame

EMB_DIM = 64
RND = SCORE_ROUND_DP

# --- shared SQL fragments ---------------------------------------------------

SQL_TOKS = (
    f"SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_PATTERN_LOWER}') AS toks,"
    " text FROM documents"
)

_POLY = (
    "list_reduce(list_transform(string_split({s},''), c -> ascii(c)::BIGINT),"
    " (a,b) -> (a*31+b)%2147483647)"
)

# Shingle identity = fold of the tokens' poly hashes, (a*31+h) % M —
# matches dedup.shingle_hashes_col exactly (incl. 0-seed ≡ list_reduce
# first-element seeding, and whole-doc fold / 0 for short/empty docs).
SQL_SHINGLE_HASHES = """
th AS (SELECT doc_id, list_transform(toks, t -> {poly_t}) AS th FROM tok),
hs AS (
  SELECT doc_id, CASE WHEN len(th) >= 3
    THEN list_transform(generate_series(1, len(th)-2),
         i -> ((th[i]*31 + th[i+1]) % 2147483647 * 31 + th[i+2]) % 2147483647)
    ELSE [CASE WHEN len(th) = 0 THEN 0
               ELSE list_reduce(th, (a,b) -> (a*31+b) % 2147483647) END]
    END AS hashes
  FROM th
)"""

SQL_DOT = (
    "list_reduce(list_transform(generate_series(1, len({a})),"
    " i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE), (x,y) -> x+y)"
)
SQL_NORM = (
    "sqrt(list_reduce(list_transform({a}, x -> x::DOUBLE * x::DOUBLE), (x,y) -> x+y))"
)


def _qvec(spark: SparkSession, sf_dir: str) -> list[float]:
    row = (
        embeddings_table(spark, sf_dir).filter(F.col("vec_id") == 0).collect()[0]
    )
    return [float(x) for x in row["embedding"]]


# --- similarity search ------------------------------------------------------


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 vs the vec_id=0 embedding."""
    emb = embeddings_table(spark, sf_dir)
    return sim.cosine_topk(emb, _qvec(spark, sf_dir), 10, round_dp=RND)


SQL_COSINE_TOPK = f"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id::BIGINT AS vec_id,
         CASE WHEN {SQL_NORM.format(a='e.embedding')} > 0
              THEN round({SQL_DOT.format(a='e.embedding', b='q.qv')}
                   / ({SQL_NORM.format(a='e.embedding')} * {SQL_NORM.format(a='q.qv')}), {RND})
              ELSE 0.0 END AS cos
  FROM embeddings e CROSS JOIN q
)
SELECT row_number() OVER (ORDER BY cos DESC, vec_id ASC)::BIGINT AS rank, vec_id, cos
FROM scored ORDER BY cos DESC, vec_id ASC LIMIT 10"""


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN: cosine top-10 within the query's hyperplane
    bucket (seeded literal planes shared with the SQL oracle)."""
    emb = embeddings_table(spark, sf_dir)
    planes = sim.hyperplanes(EMB_DIM)
    return sim.ann_topk(
        emb, _qvec(spark, sf_dir), 10, planes=planes, round_dp=RND
    )


def _sql_ann_lsh() -> str:
    planes = sim.hyperplanes(EMB_DIM)
    plane_cols = ", ".join(
        "[" + ", ".join(repr(x) for x in plane) + f"]::DOUBLE[] AS p{j}"
        for j, plane in enumerate(planes)
    )
    bucket_terms = " + ".join(
        f"(CASE WHEN {SQL_DOT.format(a='e.embedding', b=f'pl.p{j}')} >= 0"
        f" THEN {1 << j} ELSE 0 END)"
        for j in range(len(planes))
    )
    qbucket_terms = " + ".join(
        f"(CASE WHEN {SQL_DOT.format(a='q.qv', b=f'pl.p{j}')} >= 0"
        f" THEN {1 << j} ELSE 0 END)"
        for j in range(len(planes))
    )
    return f"""WITH pl AS (SELECT {plane_cols}),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
qb AS (SELECT ({qbucket_terms}) AS qbucket, qv FROM q CROSS JOIN pl),
bucketed AS (
  SELECT e.vec_id::BIGINT AS vec_id, e.embedding, ({bucket_terms}) AS bucket
  FROM embeddings e CROSS JOIN pl
),
scored AS (
  SELECT b.vec_id,
         CASE WHEN {SQL_NORM.format(a='b.embedding')} > 0
              THEN round({SQL_DOT.format(a='b.embedding', b='qb.qv')}
                   / ({SQL_NORM.format(a='b.embedding')} * {SQL_NORM.format(a='qb.qv')}), {RND})
              ELSE 0.0 END AS cos
  FROM bucketed b JOIN qb ON b.bucket = qb.qbucket
)
SELECT row_number() OVER (ORDER BY cos DESC, vec_id ASC)::BIGINT AS rank, vec_id, cos
FROM scored ORDER BY cos DESC, vec_id ASC LIMIT 10"""


def q_emb_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs over a planted-duplicate corpus
    (every 9th vector duplicated under vec_id+100000): LSH-bucket
    blocking join + exact cosine ≥ 0.99 verification."""
    emb = embeddings_table(spark, sf_dir).select("vec_id", "embedding")
    dups = emb.filter(F.col("vec_id") % 9 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = emb.union(dups)
    pairs = sim.embedding_near_dup_pairs(
        corpus, threshold=0.99, planes=sim.hyperplanes(EMB_DIM)
    )
    return pairs.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.round("cos", RND).alias("cos"),
    )


def _sql_emb_near_dup() -> str:
    planes = sim.hyperplanes(EMB_DIM)
    plane_cols = ", ".join(
        "[" + ", ".join(repr(x) for x in plane) + f"]::DOUBLE[] AS p{j}"
        for j, plane in enumerate(planes)
    )
    bucket_terms = " + ".join(
        f"(CASE WHEN {SQL_DOT.format(a='e.embedding', b=f'pl.p{j}')} >= 0"
        f" THEN {1 << j} ELSE 0 END)"
        for j in range(len(planes))
    )
    return f"""WITH pl AS (SELECT {plane_cols}),
corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id % 9 = 0
),
bucketed AS (
  SELECT e.vec_id::BIGINT AS id, e.embedding AS v, ({bucket_terms}) AS bucket
  FROM corpus e CROSS JOIN pl
),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b, a.v AS va, b.v AS vb
  FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket AND a.id < b.id
),
verified AS (
  SELECT id_a, id_b,
    CASE WHEN {SQL_NORM.format(a='va')} > 0 AND {SQL_NORM.format(a='vb')} > 0
         THEN {SQL_DOT.format(a='va', b='vb')}
              / ({SQL_NORM.format(a='va')} * {SQL_NORM.format(a='vb')})
         ELSE 0.0 END AS cos
  FROM pairs
)
SELECT id_a, id_b, round(cos, {RND}) AS cos FROM verified WHERE cos >= 0.99"""


def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: nearest-centroid cell assignment (8 seeded centroids),
    query probes its 2 nearest cells, cosine top-10 within."""
    emb = embeddings_table(spark, sf_dir)
    cents = sim.ivf_centroids(EMB_DIM)
    return sim.ivf_topk(
        emb, _qvec(spark, sf_dir), 10, centroids=cents, n_probe=2, round_dp=RND
    )


def _sql_ivf_ann() -> str:
    cents = sim.ivf_centroids(EMB_DIM)
    cent_cols = ", ".join(
        "[" + ", ".join(repr(x) for x in c) + f"]::DOUBLE[] AS c{j}"
        for j, c in enumerate(cents)
    )

    def cos_expr(vec: str, cj: str) -> str:
        return (
            f"(CASE WHEN {SQL_NORM.format(a=vec)} > 0"
            f" THEN {SQL_DOT.format(a=vec, b=cj)}"
            f" / ({SQL_NORM.format(a=vec)} * {SQL_NORM.format(a=cj)})"
            f" ELSE 0.0 END)"
        )

    cos_defs = ",\n         ".join(
        f"{cos_expr('e.embedding', f'ct.c{j}')} AS cc{j}" for j in range(len(cents))
    )
    best = "greatest(" + ", ".join(f"cc{j}" for j in range(len(cents))) + ")"
    cell_case = " ".join(
        f"WHEN cc{j} = best THEN {j}" for j in range(len(cents))
    )
    return f"""WITH ct AS (SELECT {cent_cols}),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
assigned AS (
  SELECT e.vec_id::BIGINT AS vec_id, e.embedding,
         {cos_defs}
  FROM embeddings e CROSS JOIN ct
),
with_cell AS (
  SELECT vec_id, embedding,
         CASE {cell_case} ELSE 0 END AS cell
  FROM (SELECT *, {best} AS best FROM assigned)
),
qcells AS (
  SELECT cell, row_number() OVER (ORDER BY qcos DESC, cell ASC) AS r
  FROM (
    SELECT j AS cell,
           CASE j {' '.join(f'WHEN {j} THEN ' + cos_expr('q.qv', f'ct.c{j}') for j in range(len(cents)))} END AS qcos
    FROM q CROSS JOIN ct CROSS JOIN (SELECT unnest(generate_series(0, {len(cents) - 1})) AS j)
  )
),
cand AS (
  SELECT w.vec_id, w.embedding FROM with_cell w
  WHERE w.cell IN (SELECT cell FROM qcells WHERE r <= 2)
),
scored AS (
  SELECT c.vec_id,
         CASE WHEN {SQL_NORM.format(a='c.embedding')} > 0
              THEN round({SQL_DOT.format(a='c.embedding', b='q.qv')}
                   / ({SQL_NORM.format(a='c.embedding')} * {SQL_NORM.format(a='q.qv')}), {RND})
              ELSE 0.0 END AS cos
  FROM cand c CROSS JOIN q
)
SELECT row_number() OVER (ORDER BY cos DESC, vec_id ASC)::BIGINT AS rank, vec_id, cos
FROM scored ORDER BY cos DESC, vec_id ASC LIMIT 10"""


def q_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with REAL centroids: two deterministic Lloyd k-means
    iterations (seeded init, argmax-cosine assignment, per-cell means
    floor-rounded to 6 dp, empty cells keep their previous centroid),
    then the standard 2-probe cell search. The DuckDB oracle replays
    the identical two iterations in SQL — k-means with fixed iteration
    count IS SQL-expressible, so this iterative operator still gets the
    full value-hash gate."""
    emb = embeddings_table(spark, sf_dir)
    cents = sim.ivf_kmeans_centroids(emb, EMB_DIM, iters=2)
    return sim.ivf_topk(
        emb, _qvec(spark, sf_dir), 10, centroids=cents, n_probe=2, round_dp=RND
    )


def _sql_ivf_kmeans() -> str:
    n_cells = sim.IVF_CELLS
    cents0 = sim.ivf_centroids(EMB_DIM)

    def cos_expr(vec: str, cj: str) -> str:
        return (
            f"(CASE WHEN {SQL_NORM.format(a=vec)} > 0"
            f" THEN {SQL_DOT.format(a=vec, b=cj)}"
            f" / ({SQL_NORM.format(a=vec)} * {SQL_NORM.format(a=cj)})"
            f" ELSE 0.0 END)"
        )

    def assign_cte(name: str, ct: str) -> str:
        cos_defs = ",\n         ".join(
            f"{cos_expr('e.embedding', f'{ct}.c{j}')} AS cc{j}"
            for j in range(n_cells)
        )
        best = "greatest(" + ", ".join(f"cc{j}" for j in range(n_cells)) + ")"
        cell_case = " ".join(f"WHEN cc{j} = best THEN {j}" for j in range(n_cells))
        return f"""{name} AS (
  SELECT vec_id, embedding, CASE {cell_case} ELSE 0 END AS cell
  FROM (SELECT *, {best} AS best FROM (
    SELECT e.vec_id, e.embedding,
         {cos_defs}
    FROM embeddings e CROSS JOIN {ct}
  ))
)"""

    def recenter_cte(name: str, assigned: str, prev: str) -> str:
        # per-cell elementwise mean, floor-rounded; empty cell keeps
        # the previous centroid (any_value over the single prev row)
        cols = []
        for j in range(n_cells):
            dims = ", ".join(
                f"floor(avg(CASE WHEN a.cell = {j} THEN a.embedding[{i + 1}] END)"
                f" * 1000000.0 + 0.5) / 1000000.0"
                for i in range(EMB_DIM)
            )
            cols.append(
                f"CASE WHEN count(CASE WHEN a.cell = {j} THEN 1 END) > 0"
                f" THEN [{dims}]::DOUBLE[]"
                f" ELSE any_value({prev}.c{j}) END AS c{j}"
            )
        return f"{name} AS (\n  SELECT " + ",\n  ".join(cols) + f"\n  FROM {assigned} a CROSS JOIN {prev}\n)"

    cent_cols0 = ", ".join(
        "[" + ", ".join(repr(x) for x in c) + f"]::DOUBLE[] AS c{j}"
        for j, c in enumerate(cents0)
    )
    qcells_cos = " ".join(
        f"WHEN {j} THEN " + cos_expr("q.qv", f"ct2.c{j}") for j in range(n_cells)
    )
    return f"""WITH ct0 AS (SELECT {cent_cols0}),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
{assign_cte('a1', 'ct0')},
{recenter_cte('ct1', 'a1', 'ct0')},
{assign_cte('a2', 'ct1')},
{recenter_cte('ct2', 'a2', 'ct1')},
{assign_cte('a3', 'ct2')},
qcells AS (
  SELECT cell, row_number() OVER (ORDER BY qcos DESC, cell ASC) AS r
  FROM (
    SELECT j AS cell,
           CASE j {qcells_cos} END AS qcos
    FROM q CROSS JOIN ct2 CROSS JOIN (SELECT unnest(generate_series(0, {n_cells - 1})) AS j)
  )
),
cand AS (
  SELECT w.vec_id, w.embedding FROM a3 w
  WHERE w.cell IN (SELECT cell FROM qcells WHERE r <= 2)
),
scored AS (
  SELECT c.vec_id::BIGINT AS vec_id,
         CASE WHEN {SQL_NORM.format(a='c.embedding')} > 0
              THEN round({SQL_DOT.format(a='c.embedding', b='q.qv')}
                   / ({SQL_NORM.format(a='c.embedding')} * {SQL_NORM.format(a='q.qv')}), {RND})
              ELSE 0.0 END AS cos
  FROM cand c CROSS JOIN q
)
SELECT row_number() OVER (ORDER BY cos DESC, vec_id ASC)::BIGINT AS rank, vec_id, cos
FROM scored ORDER BY cos DESC, vec_id ASC LIMIT 10"""


# --- RRF hybrid over documents + embeddings ---------------------------------


def _bm25_scores_docs(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """(doc_id, score) raw BM25 over the documents table. Matched
    (doc, term, tf) rows via explode + InSet filter + two-phase count —
    whole-stage codegen, non-query tokens dropped before any exchange
    (round-7, same shape as scoring.bm25_topk_multi)."""
    from vexor_spark.operators.postings import tokenize_docs
    from vexor_spark.operators.scoring import bm25_contribution_col

    docs = docs_table(spark, sf_dir, widen=False)
    # lazy localCheckpoint: one tokenize pass feeds both the stats
    # action and the scoring plan (see scoring.bm25_topk_multi).
    tokenized = tokenize_docs(
        docs.select("doc_id", F.col("text").alias("document"))
    ).localCheckpoint(eager=False)
    stats = tokenized.agg(F.count("*").alias("n"), F.avg("doc_len").alias("avgdl")).collect()[0]
    n_docs, avgdl = int(stats["n"]), float(stats["avgdl"])
    terms = prepare_query_terms(query)
    tf = (
        tokenized.select("doc_id", "doc_len", F.explode("tokens").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy("doc_id", "doc_len", "term")
        .agg(F.count("*").cast("int").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    return (
        tf.join(F.broadcast(dfreq), "term")
        .withColumn(
            "contribution",
            bm25_contribution_col(
                F.col("tf").cast("double"),
                F.col("doc_len").cast("double"),
                F.col("df").cast("double"),
                float(n_docs),
                avgdl,
            ),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("contribution"), 9).alias("score"))
    )


def q_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RRF fusion: dense = embedding cosine vs vec 0 (doc_id = vec_id),
    lexical = BM25 for the flagship query; fused top-10. Exact
    candidate-bounded RRF — no full-corpus rank window (proof in
    fusion.rrf_candidate_budget)."""
    emb = embeddings_table(spark, sf_dir)
    qv = _qvec(spark, sf_dir)
    dense_scored = emb.select(
        F.col("vec_id").cast("long").alias("doc_id"),
        F.element_at(
            sim.make_multi_cosine_udf([qv])(F.col("embedding")), 1
        ).alias("dense_score"),
    )
    # The bm25 leg is referenced 3× inside rrf_topk's single plan
    # (top-T, candidate-score join, beat-count); an EAGER localCheckpoint
    # materializes the ~|matched docs| scored rows once instead of
    # re-running tokenize+score per reference.
    bm25 = _bm25_scores_docs(spark, sf_dir, FLAGSHIP_QUERY).localCheckpoint(eager=True)
    from vexor_spark.operators.fusion import rrf_fused_candidates
    from vexor_spark.plans.topk import take_ranked

    # Deterministic 6-dp rounding as EXPLICIT shared float arithmetic:
    # fused is rational in the integer leg ranks, so both engines
    # produce the same double; engine-native round() implementations
    # can still split an exact 5e-7 tie (observed once at 10× scale) —
    # floor(x·1e6 + 0.5)/1e6 is the identical IEEE op sequence on both.
    fused = rrf_fused_candidates(dense_scored, bm25, 10)
    fused = fused.withColumn(
        "fused", F.floor(F.col("fused") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    )
    ranked = take_ranked(fused, [F.desc("fused"), F.asc("doc_id")], 10)
    return ranked.select("rank", "doc_id", "fused")


def _sql_rrf_hybrid() -> str:
    terms = prepare_query_terms(FLAGSHIP_QUERY)
    qvals = ", ".join(f"('{t}')" for t in terms)
    return f"""WITH tok AS ({SQL_TOKS}),
tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM tok) GROUP BY doc_id, term
),
dl AS (SELECT doc_id, len(toks)::BIGINT AS doc_len FROM tok),
stats AS (SELECT count(*)::BIGINT AS doc_count, avg(doc_len) AS avg_doc_len FROM dl),
q(term) AS (VALUES {qvals}),
matched AS (
  SELECT tf.doc_id, tf.term, tf.tf, dl.doc_len FROM tf JOIN q USING (term) JOIN dl USING (doc_id)
),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM matched GROUP BY term),
bm25 AS (
  SELECT m.doc_id, round(sum(
    ln((s.doc_count - d.df + 0.5) / (d.df + 0.5) + 1.0) * m.tf * 2.5
    / (m.tf + 1.5 * (0.25 + 0.75 * m.doc_len / s.avg_doc_len))), 9) AS score
  FROM matched m JOIN dfreq d USING (term) CROSS JOIN stats s GROUP BY m.doc_id
),
bm25_ranked AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS bm25_rank
  FROM bm25 WHERE score > 0
),
qv AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
dense AS (
  SELECT e.vec_id::BIGINT AS doc_id,
         CASE WHEN {SQL_NORM.format(a='e.embedding')} > 0
              THEN {SQL_DOT.format(a='e.embedding', b='qv.v')}
                   / ({SQL_NORM.format(a='e.embedding')} * {SQL_NORM.format(a='qv.v')})
              ELSE 0.0 END AS cos
  FROM embeddings e CROSS JOIN qv
),
dense_ranked AS (
  SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS dense_rank FROM dense
),
fused AS (
  -- floor(x*1e6+0.5)/1e6 over ::DOUBLE literals: the same IEEE op
  -- sequence the Spark side uses. DuckDB parses bare 0.7*61.0 as
  -- exact DECIMAL (42.70) where Spark's doubles give 42.699999999…96
  -- — at 10× scale a dense-rank-4 doc landed exactly on that 5e-7
  -- gap, so both the literals and the rounding must be pinned.
  SELECT coalesce(d.doc_id, b.doc_id) AS doc_id,
         floor((coalesce(0.7::DOUBLE * 61.0::DOUBLE / (60.0::DOUBLE + d.dense_rank), 0.0)
              + coalesce(0.3::DOUBLE * 61.0::DOUBLE / (60.0::DOUBLE + b.bm25_rank), 0.0))
               * 1000000.0 + 0.5) / 1000000.0 AS fused
  FROM dense_ranked d FULL OUTER JOIN bm25_ranked b USING (doc_id)
)
SELECT row_number() OVER (ORDER BY fused DESC, doc_id ASC)::BIGINT AS rank,
       doc_id::BIGINT AS doc_id, fused
FROM fused ORDER BY fused DESC, doc_id ASC LIMIT 10"""


RERANK_QUERY = "spark join window merge"
RERANK_CAND = 20  # max(20, min(2*10, 150)) — search_service.py:171-174


def q_weighted_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Legacy `rerank=bm25` arm over the driver tables: dense candidates
    = top-20 by embedding cosine vs vec 0 (doc_id = vec_id), BM25L over
    the candidate texts, 0.7·sem_norm + 0.3·bm25l_norm
    (search_service.py:199-218; BM25L per rank_bm25 INCLUDING the
    absent-term baseline idf·(k1+1)·δ/(k1+δ) that every corpus-present
    query term contributes to tf=0 docs).

    Plan shape: candidate clamp = TakeOrderedAndProject (+ bounded
    ≤20-row driver merge for rank positions, no corpus window); the
    micro-corpus scoring is column algebra over the broadcast candidate
    frame; scalar stats (avgdl, Σ baseline, maxes) fold in via 1-row
    broadcast cross-joins instead of unpartitioned windows."""
    from vexor_spark.constants import BM25_B, BM25_K1
    from vexor_spark.operators.fusion import BM25L_DELTA

    emb = embeddings_table(spark, sf_dir)
    qv = _qvec(spark, sf_dir)
    cand_rows = (
        emb.select(
            F.col("vec_id").cast("long").alias("doc_id"),
            F.element_at(
            sim.make_multi_cosine_udf([qv])(F.col("embedding")), 1
        ).alias("dense_score"),
        )
        .orderBy(F.desc("dense_score"), F.asc("doc_id"))
        .limit(RERANK_CAND)
        .collect()
    )
    n_docs = float(len(cand_rows))
    cand = local_frame(
        spark,
        [
            (int(r["doc_id"]), i + 1, float(r["dense_score"]))
            for i, r in enumerate(cand_rows)
        ],
        "doc_id long, dense_rank int, dense_score double",
    )
    tokenized = (
        docs_table(spark, sf_dir)
        .select("doc_id", "text")
        .join(F.broadcast(cand), "doc_id")
        .withColumn("toks", tokenize_col("text"))
        .withColumn("dl", F.size("toks").cast("double"))
    )
    stats = tokenized.agg(F.avg("dl").alias("avgdl"))
    qterms = [(t,) for t in prepare_query_terms(RERANK_QUERY)]
    qdf = local_frame(spark, qterms, "term string")
    tf = (
        tokenized.select("doc_id", "dl", F.explode("toks").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").cast("double").alias("tf"))
        .join(F.broadcast(qdf), "term")
    )
    dfreq = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    # Per-term constants: idf and the absent-doc baseline C_t.
    cpt = dfreq.withColumn(
        "idf", F.log((F.lit(n_docs) + 1.0) / (F.col("df") + 0.5))
    ).withColumn(
        "base",
        F.col("idf")
        * F.lit(BM25_K1 + 1.0)
        * F.lit(BM25L_DELTA)
        / F.lit(BM25_K1 + BM25L_DELTA),
    )
    total_base = cpt.agg(F.coalesce(F.sum("base"), F.lit(0.0)).alias("total_base"))
    ctd = F.col("tf") / (1.0 - F.lit(BM25_B) + F.lit(BM25_B) * F.col("dl") / F.col("avgdl"))
    # Present-term contribution MINUS its baseline; every doc then gets
    # + Σ C_t so absent terms contribute exactly C_t (rank_bm25 BM25L).
    contrib = (
        F.col("idf")
        * F.lit(BM25_K1 + 1.0)
        * (ctd + F.lit(BM25L_DELTA))
        / (F.lit(BM25_K1) + ctd + F.lit(BM25L_DELTA))
        - F.col("base")
    )
    present = (
        tf.join(F.broadcast(cpt), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("c", contrib)
        .groupBy("doc_id")
        .agg(F.sum("c").alias("present"))
    )
    fused = (
        cand.join(present, "doc_id", "left")
        .crossJoin(F.broadcast(total_base))
        .withColumn("bmv", F.col("total_base") + F.coalesce("present", F.lit(0.0)))
        .withColumn("sem", F.greatest(F.col("dense_score"), F.lit(0.0)))
    )
    maxes = fused.agg(
        F.max("sem").alias("sem_max"), F.max("bmv").alias("bm_max")
    )
    scored = (
        fused.crossJoin(F.broadcast(maxes))
        .withColumn(
            "score",
            F.round(
                F.lit(0.7)
                * F.when(F.col("sem_max") > 0, F.col("sem") / F.col("sem_max")).otherwise(0.0)
                + F.lit(0.3)
                * F.when(F.col("bm_max") > 0, F.col("bmv") / F.col("bm_max")).otherwise(0.0),
                RND,
            ),
        )
        .orderBy(F.desc("score"), F.asc("dense_rank"))
        .limit(10)
        .collect()
    )
    return local_frame(
        spark,
        [(i + 1, int(r["doc_id"]), float(r["score"])) for i, r in enumerate(scored)],
        "rank long, doc_id long, score double",
    )


def _sql_weighted_rerank() -> str:
    terms = prepare_query_terms(RERANK_QUERY)
    qvals = ", ".join(f"('{t}')" for t in terms)
    return f"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
dense AS (
  SELECT e.vec_id::BIGINT AS doc_id,
         CASE WHEN {SQL_NORM.format(a='e.embedding')} > 0
              THEN {SQL_DOT.format(a='e.embedding', b='q.qv')}
                   / ({SQL_NORM.format(a='e.embedding')} * {SQL_NORM.format(a='q.qv')})
              ELSE 0.0 END AS dense_score
  FROM embeddings e CROSS JOIN q
),
cand AS (
  SELECT d.doc_id, d.dense_score,
         row_number() OVER (ORDER BY d.dense_score DESC, d.doc_id ASC) AS dense_rank
  FROM dense d QUALIFY dense_rank <= {RERANK_CAND}
),
tokd AS (
  SELECT c.doc_id, c.dense_score, c.dense_rank,
         regexp_extract_all(lower(t.text), '{TOKEN_PATTERN_LOWER}') AS toks
  FROM cand c JOIN documents t USING (doc_id)
),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(len(toks))::DOUBLE AS avgdl FROM tokd),
qt(term) AS (VALUES {qvals}),
tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf, any_value(dl) AS dl
  FROM (SELECT doc_id, len(toks)::DOUBLE AS dl, unnest(toks) AS term FROM tokd)
  GROUP BY doc_id, term
),
matched AS (SELECT tf.* FROM tf JOIN qt USING (term)),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM matched GROUP BY term),
-- rank_bm25 BM25L: every corpus-present query term contributes
-- idf*(k1+1)*(ctd+0.5)/(k1+ctd+0.5) to EVERY doc; tf=0 docs get the
-- baseline C_t = idf*2.5*0.5/2.0. score = totalB + sum_present(f - C_t).
cpt AS (
  SELECT term, ln((s.n_docs + 1.0) / (df + 0.5)) AS idf,
         ln((s.n_docs + 1.0) / (df + 0.5)) * 2.5 * 0.5 / 2.0 AS base
  FROM dfreq CROSS JOIN stats s
),
total_base AS (SELECT coalesce(sum(base), 0.0) AS tb FROM cpt),
present AS (
  SELECT m.doc_id, sum(
    c.idf * 2.5
    * ((m.tf / (0.25 + 0.75 * m.dl / s.avgdl)) + 0.5)
    / (1.5 + (m.tf / (0.25 + 0.75 * m.dl / s.avgdl)) + 0.5)
    - c.base
  ) AS pres
  FROM matched m JOIN cpt c USING (term) CROSS JOIN stats s GROUP BY m.doc_id
),
fused AS (
  SELECT c.doc_id, c.dense_rank,
         greatest(c.dense_score, 0.0) AS sem,
         t.tb + coalesce(p.pres, 0.0) AS bmv
  FROM cand c LEFT JOIN present p USING (doc_id) CROSS JOIN total_base t
),
normed AS (
  SELECT doc_id, dense_rank,
    round(0.7 * (CASE WHEN max(sem) OVER () > 0 THEN sem / max(sem) OVER () ELSE 0.0 END)
        + 0.3 * (CASE WHEN max(bmv) OVER () > 0 THEN bmv / max(bmv) OVER () ELSE 0.0 END), {RND}) AS score
  FROM fused
)
SELECT row_number() OVER (ORDER BY score DESC, dense_rank ASC)::BIGINT AS rank,
       doc_id::BIGINT AS doc_id, score
FROM normed ORDER BY score DESC, dense_rank ASC LIMIT 10"""


# --- dedup family ------------------------------------------------------------

# Planted-duplicate corpus: every DUP_MOD-th doc duplicated under
# doc_id + DUP_ID_SHIFT. _dup_docs, SQL_DUP_DOCS and _dup_shifted_union
# all read these two constants, so the Spark frames and the DuckDB
# oracle cannot drift apart.
DUP_MOD = 7
DUP_ID_SHIFT = 100000


def _dup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs_table(spark, sf_dir).select("doc_id", "text")
    dups = d.filter(F.col("doc_id") % DUP_MOD == 0).select(
        (F.col("doc_id") + DUP_ID_SHIFT).alias("doc_id"), "text"
    )
    return d.union(dups)


SQL_DUP_DOCS = (
    "SELECT doc_id, text FROM documents "
    f"UNION ALL SELECT doc_id + {DUP_ID_SHIFT} AS doc_id, text FROM documents "
    f"WHERE doc_id % {DUP_MOD} = 0"
)


def q_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fingerprints via the shared base-hash + id-shift frame (one hash
    # pass, not one per union branch); the groupBy is exact_dup_groups'
    return (
        _dup_fps(spark, sf_dir)
        .groupBy(F.col("fp").alias("fingerprint"))
        .agg(
            F.min("doc_id").cast("long").alias("rep_doc_id"),
            F.count("*").cast("long").alias("n_docs"),
        )
        .select(
            F.col("fingerprint").cast("long").alias("fingerprint"),
            "rep_doc_id",
            "n_docs",
        )
    )


SQL_EXACT_DUP_GROUPS = f"""WITH dd AS ({SQL_DUP_DOCS})
SELECT {_POLY.format(s='text')} AS fingerprint,
       min(doc_id)::BIGINT AS rep_doc_id, count(*)::BIGINT AS n_docs
FROM dd GROUP BY fingerprint"""


def _tokenized_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dup_docs(spark, sf_dir).select(
        "doc_id", tokenize_col("text").alias("tokens")
    )


def _dup_shifted_union(base: DataFrame) -> DataFrame:
    """base ∪ id-shifted copy of the doc_id % DUP_MOD slice — the planted
    duplicate branch of `_dup_docs`, applied to any per-doc frame whose
    non-id columns are functions of the TEXT only. A planted dup's text
    IS its base doc's text, so its derived features are identical and
    only the id moves: computing features on the base and unioning a
    shifted projection is row-for-row the same frame as computing them
    on `_dup_docs`, while the scan + tokenize + Arrow kernel run once
    instead of twice (CSE across the union that Catalyst cannot do —
    measured 1.44 → 0.46 s for the MinHash per-doc frame at 10×).
    `base` must be (lazily) checkpointed by the caller so the two
    branches read materialized rows instead of re-running the kernel."""
    return base.union(
        base.filter(F.col("doc_id") % DUP_MOD == 0).withColumn(
            "doc_id", F.col("doc_id") + DUP_ID_SHIFT
        )
    )


def _dup_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sig_0..7, sh) for the planted-duplicate corpus: ONE
    kernel pass over the base corpus, duplicate branch by id-shift
    (_dup_shifted_union)."""
    from vexor_spark.operators.dedup import minhash_per_doc

    base = minhash_per_doc(
        docs_table(spark, sf_dir).select(
            "doc_id", tokenize_col("text").alias("tokens")
        )
    ).localCheckpoint(eager=False)
    return _dup_shifted_union(base)


def _dup_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, fp) whole-text fingerprints for the planted-duplicate
    corpus: one hash-kernel pass over the base, dup branch id-shifted."""
    base = (
        docs_table(spark, sf_dir)
        .select("doc_id", fingerprint_col(F.col("text")).alias("fp"))
        .localCheckpoint(eager=False)
    )
    return _dup_shifted_union(base)


def q_minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = _dup_per_doc(spark, sf_dir).drop("sh")
    return sigs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        *[F.col(f"sig_{j}").cast("long").alias(f"sig_{j}") for j in range(8)],
    )


def _sql_minhash_sigs() -> str:
    sig_exprs = ",\n       ".join(
        f"list_min(list_transform(hashes, h -> ({a}*h + {b}) % {HASH_MOD}))::BIGINT AS sig_{j}"
        for j, (a, b) in enumerate(MINHASH_PARAMS)
    )
    return f"""WITH dd AS ({SQL_DUP_DOCS}),
tok AS (SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_PATTERN_LOWER}') AS toks FROM dd),
{SQL_SHINGLE_HASHES.format(poly_t=_POLY.format(s='t')).strip()}
SELECT doc_id::BIGINT AS doc_id,
       {sig_exprs}
FROM hs"""


def q_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the injected per_doc feeds three consumers inside near_dup_pairs
    # (banding + both verify sides) — checkpoint the UNION too, so the
    # id-shift branches are not re-derived per consumer (~-7% at 10x)
    pairs = near_dup_pairs(
        None,
        "tokens",
        threshold=0.8,
        per_doc=_dup_per_doc(spark, sf_dir).localCheckpoint(eager=False),
    )
    return pairs.select(
        F.col("doc_a").cast("long").alias("doc_a"),
        F.col("doc_b").cast("long").alias("doc_b"),
        F.round("jaccard", RND).alias("jaccard"),
    )


def _sql_near_dup_pairs() -> str:
    band_exprs = []
    for b in range(4):
        parts = " || ':' || ".join(
            f"sig_{b * 2 + r}::VARCHAR" for r in range(2)
        )
        band_exprs.append(f"'{b}:' || {parts}")
    bands_list = "[" + ", ".join(band_exprs) + "]"
    shingle_cte = SQL_SHINGLE_HASHES.format(poly_t=_POLY.format(s="t")).strip()
    return f"""WITH sigs AS ({_sql_minhash_sigs()}),
tok AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_PATTERN_LOWER}') AS toks
  FROM ({SQL_DUP_DOCS})
),
{shingle_cte},
-- int64 shingle-hash sets: identical composition to the engine's
-- shingle_hashes_col, so Jaccard (incl. any hash collisions) is
-- computed over identical sets on both sides.
shh AS (SELECT doc_id, list_distinct(hashes) AS hs FROM hs),
keyed AS (SELECT doc_id, unnest({bands_list}) AS band_key FROM sigs),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM keyed l JOIN keyed r ON l.band_key = r.band_key AND l.doc_id < r.doc_id
),
verified AS (
  SELECT c.doc_a, c.doc_b,
    -- empty-union guard mirrors the Spark side's jaccard_col (0.0,
    -- never NULL/div-by-zero): two docs with < shingle_n tokens have
    -- empty shingle sets yet can still reach this stage via simhash 0.
    CASE WHEN len(a.hs) + len(b.hs)
              - len(list_filter(a.hs, x -> list_contains(b.hs, x))) > 0
         THEN (len(list_filter(a.hs, x -> list_contains(b.hs, x)))::DOUBLE)
              / (len(a.hs) + len(b.hs)
                 - len(list_filter(a.hs, x -> list_contains(b.hs, x))))::DOUBLE
         ELSE 0.0 END
    AS jaccard
  FROM cand c JOIN shh a ON c.doc_a = a.doc_id JOIN shh b ON c.doc_b = b.doc_id
)
SELECT doc_a::BIGINT AS doc_a, doc_b::BIGINT AS doc_b, round(jaccard, {RND}) AS jaccard
FROM verified WHERE jaccard >= 0.8"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = docs_table(spark, sf_dir).select(
        "doc_id", tokenize_col("text").alias("tokens")
    )
    # bulk path: explode + codegen two-phase agg (simhash_table) — the
    # per-row fold (simhash_col) is CodegenFallback and ~15× slower on
    # full-corpus scans; both are fold-equivalent (test_dedup_similarity).
    out = simhash_table(toks, "tokens")
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("simhash").cast("long").alias("simhash"),
    )


def _sql_simhash() -> str:
    bit_terms = " + ".join(
        f"(CASE WHEN list_reduce(list_transform(hashes, h -> ((h >> {j}) & 1)*2 - 1),"
        f" (a,b) -> a+b) > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    return f"""WITH tok AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_PATTERN_LOWER}') AS toks FROM documents
),
hs AS (SELECT doc_id, list_transform(toks, t -> {_POLY.format(s='t')}) AS hashes FROM tok)
SELECT doc_id::BIGINT AS doc_id, ({bit_terms})::BIGINT AS simhash FROM hs"""


# Planted-edge heterogeneous corpus for the 64-bit arm: every 11th doc
# gets a near-duplicate (one appended token) under doc_id+100000. At 64
# bits the background Hamming distribution sits near 32 (measured p1=9
# on this corpus), so the output is the planted edges + the corpus's own
# genuine duplicates — non-degenerate, unlike 16-bit word-soup.
def _edge_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs_table(spark, sf_dir).select("doc_id", "text")
    edges = d.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qq7")).alias("text"),
    )
    return d.union(edges)


SQL_EDGE_DOCS = (
    "SELECT doc_id, text FROM documents "
    "UNION ALL SELECT doc_id + 100000 AS doc_id, text || ' qq7' AS text "
    "FROM documents WHERE doc_id % 11 = 0"
)


def q_simhash64_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit production SimHash near-dup arm over the planted-edge
    corpus: all pairs with hamming(simhash64) ≤ 3 and exact shingle
    Jaccard ≥ 0.8. Spark blocks on 4 × 16-bit pigeonhole keys; the
    oracle brute-forces every pair, so a green row re-proves the
    blocking is lossless at the production width too."""
    docs = _edge_docs(spark, sf_dir).select(
        "doc_id", tokenize_col("text").alias("tokens")
    )
    pairs = simhash64_near_dup_pairs(docs, "tokens", hamming_max=3, threshold=0.8)
    return pairs.select(
        F.col("doc_a").cast("long").alias("doc_a"),
        F.col("doc_b").cast("long").alias("doc_b"),
        F.col("hamming").cast("long").alias("hamming"),
        F.round("jaccard", RND).alias("jaccard"),
    )


def _sql_simhash64_near_dup() -> str:
    # sim64 via unnest + groupBy (mirrors simhash64_table's two-phase
    # agg): three affine spreads of the poly hash supply 64 bits. Bit
    # 63 is the sign bit — DuckDB rejects 1::BIGINT << 63, so it is
    # set via the MIN_LONG literal; assembly is bitwise OR on both
    # engines (wrap-free). Tokenless docs re-enter via LEFT JOIN with
    # NULL counts → every CASE falls to 0 → sim 0.
    from vexor_spark.operators.dedup import SIMHASH64_BITS, SIMHASH64_PARAMS

    drv_cols = ", ".join(
        f"({a}*h + {b}) % 2147483647 AS d{k}"
        for k, (a, b) in enumerate(SIMHASH64_PARAMS)
    )
    cnt_cols = ", ".join(
        f"sum((d{j // 31} >> {j % 31}) & 1) AS c{j}" for j in range(SIMHASH64_BITS)
    )
    bit_terms = " | ".join(
        (
            f"(CASE WHEN 2*c.c{j} > c.n THEN (-9223372036854775808)::BIGINT"
            " ELSE 0::BIGINT END)"
            if j == 63
            else f"(CASE WHEN 2*c.c{j} > c.n THEN (1::BIGINT << {j}) ELSE 0::BIGINT END)"
        )
        for j in range(SIMHASH64_BITS)
    )
    shingle_cte = SQL_SHINGLE_HASHES.format(poly_t=_POLY.format(s="t")).strip()
    return f"""WITH ed AS ({SQL_EDGE_DOCS}),
tok AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_PATTERN_LOWER}') AS toks
  FROM ed
),
{shingle_cte},
shh AS (SELECT doc_id, list_distinct(hashes) AS hs FROM hs),
hr AS (SELECT doc_id, unnest(th) AS h FROM th),
drv AS (SELECT doc_id, {drv_cols} FROM hr),
cnt AS (SELECT doc_id, count(*) AS n, {cnt_cols} FROM drv GROUP BY doc_id),
sims AS (
  SELECT t.doc_id, COALESCE({{bt}}, 0)::BIGINT AS sim
  FROM th t LEFT JOIN cnt c ON t.doc_id = c.doc_id
),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         bit_count(xor(a.sim, b.sim))::BIGINT AS hamming
  FROM sims a JOIN sims b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.sim, b.sim)) <= 3
),
verified AS (
  SELECT c.doc_a, c.doc_b, c.hamming,
    CASE WHEN len(a.hs) + len(b.hs)
              - len(list_filter(a.hs, x -> list_contains(b.hs, x))) > 0
         THEN (len(list_filter(a.hs, x -> list_contains(b.hs, x)))::DOUBLE)
              / (len(a.hs) + len(b.hs)
                 - len(list_filter(a.hs, x -> list_contains(b.hs, x))))::DOUBLE
         ELSE 0.0 END
    AS jaccard
  FROM cand c JOIN shh a ON c.doc_a = a.doc_id JOIN shh b ON c.doc_b = b.doc_id
)
SELECT doc_a::BIGINT AS doc_a, doc_b::BIGINT AS doc_b, hamming,
       round(jaccard, {RND}) AS jaccard
FROM verified WHERE jaccard >= 0.8""".replace("{bt}", bit_terms)


def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-blocked near-dup arm over the planted-duplicate corpus:
    all pairs with hamming(simhash16) ≤ 2 and exact shingle Jaccard
    ≥ 0.8. The Spark side blocks on hamming_max+1 bit-block keys
    (lossless by pigeonhole); the oracle brute-forces every pair, so a
    green row re-proves the blocking loses nothing."""
    pairs = simhash_near_dup_pairs(
        _tokenized_dups(spark, sf_dir), "tokens", hamming_max=2, threshold=0.8
    )
    return pairs.select(
        F.col("doc_a").cast("long").alias("doc_a"),
        F.col("doc_b").cast("long").alias("doc_b"),
        F.col("hamming").cast("long").alias("hamming"),
        F.round("jaccard", RND).alias("jaccard"),
    )


def _sql_simhash_near_dup() -> str:
    # sim over token hashes (th), guarded for empty docs (DuckDB
    # list_reduce errors on empty lists) — empty tokens → all-zero sums
    # → simhash 0, matching simhash_from_hashes.
    bit_terms = " + ".join(
        f"(CASE WHEN list_reduce(list_transform(th, h -> ((h >> {j}) & 1)*2 - 1),"
        f" (a,b) -> a+b) > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    shingle_cte = SQL_SHINGLE_HASHES.format(poly_t=_POLY.format(s="t")).strip()
    return f"""WITH dd AS ({SQL_DUP_DOCS}),
tok AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_PATTERN_LOWER}') AS toks
  FROM dd
),
{shingle_cte},
sims AS (
  SELECT doc_id,
         (CASE WHEN len(th) = 0 THEN 0 ELSE ({bit_terms}) END)::BIGINT AS sim
  FROM th
),
shh AS (SELECT doc_id, list_distinct(hashes) AS hs FROM hs),
-- brute force: every pair, no blocking — the stronger oracle.
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         bit_count(xor(a.sim, b.sim))::BIGINT AS hamming
  FROM sims a JOIN sims b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.sim, b.sim)) <= 2
),
verified AS (
  SELECT c.doc_a, c.doc_b, c.hamming,
    -- empty-union guard mirrors the Spark side's jaccard_col (0.0,
    -- never NULL/div-by-zero): two docs with < shingle_n tokens have
    -- empty shingle sets yet can still reach this stage via simhash 0.
    CASE WHEN len(a.hs) + len(b.hs)
              - len(list_filter(a.hs, x -> list_contains(b.hs, x))) > 0
         THEN (len(list_filter(a.hs, x -> list_contains(b.hs, x)))::DOUBLE)
              / (len(a.hs) + len(b.hs)
                 - len(list_filter(a.hs, x -> list_contains(b.hs, x))))::DOUBLE
         ELSE 0.0 END
    AS jaccard
  FROM cand c JOIN shh a ON c.doc_a = a.doc_id JOIN shh b ON c.doc_b = b.doc_id
)
SELECT doc_a::BIGINT AS doc_a, doc_b::BIGINT AS doc_b, hamming,
       round(jaccard, {RND}) AS jaccard
FROM verified WHERE jaccard >= 0.8"""


# --- exclude-pattern filter (S3/F3) -----------------------------------------

# Deterministic repo-like paths over documents (the synthetic-source
# trick from chunk_code): 6 dirs × 7 names = 42 shapes exercising
# dir-only, extension sugar, '**', '*', '?', and negation rules.
_EXC_DIRS = ["src", "tests", "docs", "node_modules/pkg", "build", "src/sub"]
_EXC_NAMES = [
    "main.py", "util.log", "keep.tmp", "x.tmp", "draft1.md", "notes.md", "data.csv",
]
_EXC_PATTERNS = [
    ".log",            # bare-extension sugar -> **/*.log
    "node_modules/",   # dir-only, any depth
    "build/**",        # contents-only
    "src/*.tmp",       # anchored single-star (does NOT hit src/sub)
    "!src/keep.tmp",   # negation (last match wins)
    "**/draft?.md",    # any-depth '?' glob
]


def q_exclude_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gitignore-grammar exclusion verdict per synthesized path —
    excluded_col is pure JVM regexp algebra (functions/ignore.py), the
    grammar itself is pinned by `git check-ignore` parity
    (tests/test_ignore.py)."""
    from vexor_spark.functions.ignore import excluded_col

    d = docs_table(spark, sf_dir)
    path = F.concat_ws(
        "/",
        F.element_at(F.array(*[F.lit(x) for x in _EXC_DIRS]), (F.col("doc_id") % 6 + 1).cast("int")),
        F.element_at(F.array(*[F.lit(x) for x in _EXC_NAMES]), (F.col("doc_id") % 7 + 1).cast("int")),
    )
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        path.alias("path"),
        excluded_col(path, _EXC_PATTERNS, max_depth=4).alias("excluded"),
    )


def _sql_exclude_filter() -> str:
    """DuckDB oracle: same compiled regexes (compilation is pinned by
    the git parity suite), but the last-match-wins folds and the
    ancestor-dir walk are re-expressed independently as nested CASE
    over regexp_matches."""
    from vexor_spark.functions.ignore import compile_patterns, normalize_exclude_patterns

    compiled = compile_patterns(normalize_exclude_patterns(_EXC_PATTERNS))

    def last_match(subj: str, is_dir: bool) -> str:
        expr = "FALSE"
        for p in compiled:
            if p.dir_only and not is_dir:
                continue
            expr = (
                f"CASE WHEN regexp_matches({subj}, '{p.regex}') "
                f"THEN {'FALSE' if p.negated else 'TRUE'} ELSE ({expr}) END"
            )
        return expr

    dirs = "[" + ", ".join(f"'{x}'" for x in _EXC_DIRS) + "]"
    names = "[" + ", ".join(f"'{x}'" for x in _EXC_NAMES) + "]"
    return f"""WITH p AS (
  SELECT doc_id,
         {dirs}[(doc_id % 6) + 1] || '/' || {names}[(doc_id % 7) + 1] AS path
  FROM documents
),
parts AS (
  SELECT doc_id, path, string_split(path, '/') AS c FROM p
)
SELECT doc_id::BIGINT AS doc_id, path,
  CASE WHEN len(c) > 1 AND ({last_match('c[1]', True)}) THEN TRUE
       WHEN len(c) > 2 AND ({last_match("c[1] || '/' || c[2]", True)}) THEN TRUE
       ELSE ({last_match('path', False)}) END AS excluded
FROM parts"""


# --- text analysis ------------------------------------------------------------


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs_table(spark, sf_dir)
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        ws_token_count_col(F.col("text")).alias("n_ws"),
        bpe_token_count_col(F.col("text")).alias("n_bpe"),
    )


SQL_TOKEN_COUNTS = f"""SELECT doc_id::BIGINT AS doc_id,
  CASE WHEN length(trim(text)) = 0 THEN 0
       ELSE len(string_split_regex(trim(text), '\\s+')) END::BIGINT AS n_ws,
  len(regexp_extract_all(text, '{BPE_PATTERN}'))::BIGINT AS n_bpe
FROM documents"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bulk path: explode + codegen agg (token_stats_table) — the
    # per-row F.filter HOFs are CodegenFallback, ~5× slower full-scan
    d = docs_table(spark, sf_dir).select("doc_id", tokenize_col("text").alias("tokens"))
    stats = token_stats_table(d)
    return stats.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        lang_id_from_stats().alias("lang_pred"),
    )


def _sql_lang_id() -> str:
    score_defs = ",\n  ".join(
        f"len(list_filter(toks, t -> list_contains({list(ws)!r}, t)))::BIGINT AS s_{lang}"
        for lang, ws in LANG_STOPWORDS.items()
    )
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in LANG_ORDER) + ")"
    cases = "\n    ".join(
        f"WHEN s_{lang} = best AND best > 0 THEN '{lang}'" for lang in LANG_ORDER
    )
    return f"""WITH tok AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_PATTERN_LOWER}') AS toks FROM documents
),
scores AS (
  SELECT doc_id,
  {score_defs}
  FROM tok
),
with_best AS (SELECT *, {best} AS best FROM scores)
SELECT doc_id::BIGINT AS doc_id,
  CASE {cases}
    ELSE 'und' END AS lang_pred
FROM with_best"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bulk path: shared explode + codegen agg (see q_lang_id)
    d = docs_table(spark, sf_dir).select("doc_id", tokenize_col("text").alias("tokens"))
    stats = token_stats_table(d)
    return stats.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round(quality_from_stats(), RND).alias("quality"),
    )


def _sql_quality() -> str:
    stop_hits = " + ".join(
        f"len(list_filter(toks, t -> list_contains({list(ws)!r}, t)))"
        for ws in LANG_STOPWORDS.values()
    )
    return f"""WITH tok AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_PATTERN_LOWER}') AS toks FROM documents
),
m AS (
  SELECT doc_id, len(toks)::DOUBLE AS n,
         ({stop_hits})::DOUBLE AS stop_hits,
         len(list_filter(toks, t -> regexp_full_match(t, '[a-z]+')))::DOUBLE AS alpha
  FROM tok
)
SELECT doc_id::BIGINT AS doc_id,
  round(0.4 * least(n / 50.0, 1.0)
      + 0.3 * least((CASE WHEN n > 0 THEN stop_hits / n ELSE 0.0 END) / 0.08, 1.0)
      + 0.3 * (CASE WHEN n > 0 THEN alpha / n ELSE 0.0 END), {RND}) AS quality
FROM m"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs_table(spark, sf_dir)
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        fingerprint_col(F.col("text")).cast("long").alias("fingerprint"),
    )


SQL_FINGERPRINT = f"""SELECT doc_id::BIGINT AS doc_id,
  {_POLY.format(s='text')}::BIGINT AS fingerprint
FROM documents"""


# --- chunking / labels / keywords ---------------------------------------------

CHUNK_SIZE, CHUNK_STRIDE = 100, 90


def q_chunk_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """full-mode sliding windows (size 100, overlap 10) over documents
    text — JVM expression version of the chunker (reference loop
    semantics: last window starts at stride·ceil((len−size)/stride))."""
    d = docs_table(spark, sf_dir)
    n = F.length("text")
    max_start = F.when(
        n > CHUNK_SIZE,
        (F.floor((n - CHUNK_SIZE + CHUNK_STRIDE - 1) / F.lit(CHUNK_STRIDE)) * CHUNK_STRIDE),
    ).otherwise(F.lit(0)).cast("int")
    starts = F.sequence(F.lit(0), max_start, F.lit(CHUNK_STRIDE))
    windows = F.filter(
        F.transform(
            starts,
            lambda s: F.trim(F.col("text").substr(s + 1, F.lit(CHUNK_SIZE))),
        ),
        lambda w: F.length(w) > 0,
    )
    indexed = F.transform(
        windows,
        lambda w, i: F.struct(i.cast("long").alias("chunk_index"), w.alias("chunk_text")),
    )
    return (
        d.filter(F.length(F.trim(F.col("text"))) > 0)
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.explode(indexed).alias("c"),
        )
        .select("doc_id", F.col("c.chunk_index").alias("chunk_index"), F.col("c.chunk_text").alias("chunk_text"))
    )


SQL_CHUNK_FULL = f"""WITH t AS (
  SELECT doc_id, text, length(text) AS n FROM documents WHERE length(trim(text)) > 0
),
w AS (
  SELECT doc_id,
    list_filter(list_transform(
      generate_series(0, CASE WHEN n > {CHUNK_SIZE}
                            THEN ((n - {CHUNK_SIZE} + {CHUNK_STRIDE} - 1) // {CHUNK_STRIDE}) * {CHUNK_STRIDE}
                            ELSE 0 END, {CHUNK_STRIDE}),
      s -> trim(substr(text, s + 1, {CHUNK_SIZE}))), x -> length(x) > 0) AS wins
  FROM t
)
SELECT doc_id::BIGINT AS doc_id, u.ci AS chunk_index, u.ct AS chunk_text
FROM (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(wins)),
                               i -> {{'ci': (i-1)::BIGINT, 'ct': wins[i]}})) AS u
  FROM w
)"""


def q_head_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """head-mode label + preview (T4/T6): label = "{source} :: {snippet}",
    snippet = first 1000 chars; preview trimmed at 160 with '…'."""
    d = docs_table(spark, sf_dir)
    snippet = F.trim(F.substring(F.col("text"), 1, 1000))
    preview = F.when(F.length(snippet) <= 160, snippet).otherwise(
        F.concat(F.rtrim(F.substring(snippet, 1, 159)), F.lit("…"))
    )
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.concat_ws(" :: ", F.col("source"), snippet).alias("label"),
        preview.alias("preview"),
    )


SQL_HEAD_LABEL = """WITH s AS (
  SELECT doc_id, source, trim(substr(text, 1, 1000)) AS snippet FROM documents
)
SELECT doc_id::BIGINT AS doc_id,
  source || ' :: ' || snippet AS label,
  CASE WHEN length(snippet) <= 160 THEN snippet
       ELSE rtrim(substr(snippet, 1, 159)) || '…' END AS preview
FROM s"""

KEYWORD_STOPWORDS = LANG_STOPWORDS["en"] + ("and", "for", "with")


def q_keyword_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8 keyword summarize (catalog variant): word regex
    [a-z][a-z0-9_-]+, len ≥ 3, minus stopwords; top 20 by
    (count desc, term asc)."""
    d = docs_table(spark, sf_dir)
    words = F.regexp_extract_all(F.lower("text"), F.lit(r"[a-z][a-z0-9_-]+"), 0)
    # filter AFTER the explode: length + InSet stopword tests run as
    # whole-stage-codegen row predicates instead of an interpreted
    # array HOF with a per-element array_contains scan (round-7).
    counted = (
        d.select(F.explode(words).alias("term"))
        .filter((F.length("term") >= 3) & ~F.col("term").isin(*KEYWORD_STOPWORDS))
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    from vexor_spark.plans.topk import take_ranked

    ranked = take_ranked(counted, [F.desc("cnt"), F.asc("term")], 20)
    return ranked.select("rank", "term", "cnt")


def _sql_keyword_top20() -> str:
    return f"""WITH words AS (
  SELECT unnest(list_filter(regexp_extract_all(lower(text), '[a-z][a-z0-9_-]+'),
                t -> length(t) >= 3 AND NOT list_contains({list(KEYWORD_STOPWORDS)!r}, t))) AS term
  FROM documents
),
counted AS (SELECT term, count(*)::BIGINT AS cnt FROM words GROUP BY term)
SELECT row_number() OVER (ORDER BY cnt DESC, term ASC)::BIGINT AS rank, term, cnt
FROM counted ORDER BY cnt DESC, term ASC LIMIT 20"""


# --- events (window aggregation) ----------------------------------------------


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window counts + value sums per event type — the
    batch form of the streaming rollup (Structured Streaming uses the
    same window expression with a watermark)."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_ts"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.sum("value"), RND).alias("sum_value"),
        )
    )


SQL_EVENTS_HOURLY = f"""SELECT date_trunc('hour', ts) AS hour_ts, event_type,
  count(*)::BIGINT AS n, round(sum(value), {RND}) AS sum_value
FROM events GROUP BY 1, 2"""

SESSION_GAP_MIN = 30


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: a new session starts when a user's
    inter-event gap exceeds 30 min (lag + cumulative-sum-of-breaks —
    the batch equivalent of a session window; Structured Streaming
    would use F.session_window with the same gap)."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond-exact gap comparison (cast-to-long floors seconds and
    # can disagree with the SQL oracle at exact-boundary gaps)
    # ts is TIMESTAMP_NTZ; session tz is UTC so the cast is identity
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    gap_break = (
        F.when(
            micros - F.lag(micros).over(w) > SESSION_GAP_MIN * 60 * 1_000_000,
            1,
        )
        .otherwise(0)
    )
    with_sess = e.withColumn("brk", gap_break).withColumn(
        "session_idx", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        with_sess.groupBy("user_id", "session_idx")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.round(F.sum("value"), RND).alias("sum_value"),
        )
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("session_idx").cast("long").alias("session_idx"),
            "n_events", "session_start", "session_end", "sum_value",
        )
    )


SQL_EVENTS_SESSIONS = f"""WITH marked AS (
  SELECT user_id, event_id, ts, value,
    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
              > {SESSION_GAP_MIN * 60 * 1000000}
         THEN 1 ELSE 0 END AS brk
  FROM events
),
sessed AS (
  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM marked
)
SELECT user_id::BIGINT AS user_id, session_idx::BIGINT AS session_idx,
  count(*)::BIGINT AS n_events, min(ts) AS session_start, max(ts) AS session_end,
  round(sum(value), {RND}) AS sum_value
FROM sessed GROUP BY user_id, session_idx"""


# --- code / outline chunking modes ------------------------------------------
#
# The AST/markdown kernels aren't SQL-expressible, so the oracle checks
# them on SYNTHETIC sources with a fixed line layout: each doc becomes a
# deterministic Python module / markdown page whose expected chunks
# (labels, previews, 1-based line spans) have a closed form the oracle
# constructs directly with string concatenation. The Spark side runs
# the REAL kernels (ast.parse / outline scanner) through the Arrow UDF.

_CODE_SRC_FMT = (
    "import os\n\nX = %d\n\ndef f_%d(x):\n    return x + %d\n\n"
    "class C_%d:\n    y = %d\n\n    def m(self, v):\n        return v * %d\n\nTAIL = %d\n"
)


def q_chunk_code(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`code` mode (vexor/modes.py:127-180 over
    content_extract_service.py:256-481): module prelude / function /
    class / method / module-globals chunks of a synthetic module."""
    from vexor_spark.operators.chunking import chunk_pages

    d = docs_table(spark, sf_dir).select("doc_id")
    k = F.col("doc_id")
    src = F.format_string(
        _CODE_SRC_FMT, k % 7, k, k % 5, k, k % 3, k % 11, k % 2
    )
    pages = d.select(
        "doc_id",
        F.format_string("https://example.org/code/doc_%d.py", k).alias("url"),
        F.encode(src, "UTF-8").alias("html"),
    )
    chunks = chunk_pages(pages, mode="code", extra_cols=["doc_id"])
    return chunks.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("chunk_index").cast("long").alias("chunk_index"),
        "label",
        "preview",
        F.col("start_line").cast("long").alias("start_line"),
        F.col("end_line").cast("long").alias("end_line"),
    )


SQL_CHUNK_CODE = """WITH base AS (
  SELECT doc_id,
         'doc_' || doc_id::VARCHAR || '.py' AS name,
         (doc_id % 7)::VARCHAR AS a, (doc_id % 5)::VARCHAR AS b,
         (doc_id % 3)::VARCHAR AS c, (doc_id % 11)::VARCHAR AS d,
         (doc_id % 2)::VARCHAR AS e, doc_id::VARCHAR AS k
  FROM documents
)
SELECT doc_id::BIGINT AS doc_id, chunk_index::BIGINT AS chunk_index, label, preview,
       start_line::BIGINT AS start_line, end_line::BIGINT AS end_line
FROM (
  SELECT doc_id, 0 AS chunk_index,
         name || ' :: module :: import os X = ' || a AS label,
         'module :: import os X = ' || a AS preview,
         1 AS start_line, 4 AS end_line FROM base
  UNION ALL
  SELECT doc_id, 1,
         name || ' :: def f_' || k || '(x): :: def f_' || k || '(x): return x + ' || b,
         'def f_' || k || '(x): :: def f_' || k || '(x): return x + ' || b,
         5, 6 FROM base
  UNION ALL
  SELECT doc_id, 2,
         name || ' :: class C_' || k || ': :: class C_' || k || ': y = ' || c || ' Methods: m',
         'class C_' || k || ': :: class C_' || k || ': y = ' || c || ' Methods: m',
         8, 12 FROM base
  UNION ALL
  SELECT doc_id, 3,
         name || ' :: C_' || k || '.m(self, v) :: def m(self, v): return v * ' || d,
         'C_' || k || '.m(self, v) :: def m(self, v): return v * ' || d,
         11, 12 FROM base
  UNION ALL
  SELECT doc_id, 4,
         name || ' :: module globals :: TAIL = ' || e,
         'module globals :: TAIL = ' || e,
         13, 14 FROM base
)"""

_OUTLINE_SRC_FMT = (
    "# Title %d\n\nintro %d\n\n## Section A\n\nalpha %d\n\n## Section B\n\nbeta %d\n"
)


def q_chunk_outline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`outline` mode (vexor/modes.py:183-225 over
    content_extract_service.py:494-681): heading sections with
    breadcrumbs of a synthetic markdown page."""
    from vexor_spark.operators.chunking import chunk_pages

    d = docs_table(spark, sf_dir).select("doc_id")
    k = F.col("doc_id")
    src = F.format_string(_OUTLINE_SRC_FMT, k, k, k % 7, k % 5)
    pages = d.select(
        "doc_id",
        F.format_string("https://example.org/docs/doc_%d.md", k).alias("url"),
        F.encode(src, "UTF-8").alias("html"),
    )
    chunks = chunk_pages(pages, mode="outline", extra_cols=["doc_id"])
    return chunks.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("chunk_index").cast("long").alias("chunk_index"),
        "label",
        "preview",
        F.col("start_line").cast("long").alias("start_line"),
        F.col("end_line").cast("long").alias("end_line"),
    )


SQL_CHUNK_OUTLINE = """WITH base AS (
  SELECT doc_id,
         'doc_' || doc_id::VARCHAR || '.md' AS name,
         doc_id::VARCHAR AS k,
         (doc_id % 7)::VARCHAR AS a, (doc_id % 5)::VARCHAR AS b
  FROM documents
)
SELECT doc_id::BIGINT AS doc_id, chunk_index::BIGINT AS chunk_index, label, preview,
       start_line::BIGINT AS start_line, end_line::BIGINT AS end_line
FROM (
  SELECT doc_id, 0 AS chunk_index,
         name || ' :: Title ' || k || ' :: intro ' || k
              || ' ## Section A alpha ' || a || ' ## Section B beta ' || b AS label,
         'Title ' || k || ' :: intro ' || k
              || ' ## Section A alpha ' || a || ' ## Section B beta ' || b AS preview,
         1 AS start_line, 11 AS end_line FROM base
  UNION ALL
  SELECT doc_id, 1,
         name || ' :: Title ' || k || ' > Section A :: alpha ' || a,
         'Title ' || k || ' > Section A :: alpha ' || a,
         5, 8 FROM base
  UNION ALL
  SELECT doc_id, 2,
         name || ' :: Title ' || k || ' > Section B :: beta ' || b,
         'Title ' || k || ' > Section B :: beta ' || b,
         9, 11 FROM base
)"""


# --- dedup clusters + end-to-end curation ------------------------------------


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the verified near-dup pairs (keep-one
    reduction): (doc_id, cluster_rep), singletons map to themselves.
    Spark side: iterative min-label propagation (dedup.dup_clusters);
    oracle: DuckDB recursive CTE reachability closure."""
    from vexor_spark.operators.dedup import dup_clusters

    pairs = near_dup_pairs(
        None,
        "tokens",
        threshold=0.8,
        per_doc=_dup_per_doc(spark, sf_dir).localCheckpoint(eager=False),
    )
    # node set: ids only — a column-pruned scan, no tokenize pass
    out = dup_clusters(_dup_docs(spark, sf_dir).select("doc_id"), pairs)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("cluster_rep").cast("long").alias("cluster_rep"),
    )


def _sql_dup_clusters() -> str:
    return f"""WITH RECURSIVE
pairs AS (SELECT doc_a, doc_b FROM ({_sql_near_dup_pairs()})),
nodes AS (SELECT doc_id FROM ({SQL_DUP_DOCS})),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION ALL
  SELECT doc_b AS s, doc_a AS d FROM pairs
),
walk(node, label) AS (
  SELECT doc_id, doc_id FROM nodes
  UNION
  SELECT e.d, w.label FROM walk w JOIN edges e ON w.node = e.s
)
SELECT node::BIGINT AS doc_id, min(label)::BIGINT AS cluster_rep
FROM walk GROUP BY node"""


CURATION_MIN_QUALITY = 0.5


def q_curated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation over a planted-duplicate corpus: exact-dedup
    keep-one (min doc_id per fingerprint) + quality floor + language
    tag — the filter+dedup shape of a training-data pipeline. Output:
    (doc_id, lang, quality, n_tokens) of survivors."""
    d = _dup_docs(spark, sf_dir)
    toks = tokenize_col("text")
    # Dedup FIRST, enrich survivors ONLY, and do the enrichment through
    # the codegen explode+agg stats table instead of per-row HOFs: the
    # fingerprint branch is the sole pre-dedup work (one char-fold
    # pass), the kept-id semi join prunes duplicates, and lang/quality
    # become plain arithmetic over token_stats_table (the old plan
    # enriched every doc twice through CodegenFallback lambdas —
    # 23.0 s → ~7 s at the 10× table; the saving grows with the
    # duplicate ratio at 100 TB).
    # fingerprints from the shared base-hash + id-shift frame: the hash
    # kernel runs once over the base corpus instead of once per union
    # branch (see _dup_shifted_union)
    kept = (
        _dup_fps(spark, sf_dir)
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    survivors = d.join(kept, "doc_id", "left_semi").select(
        "doc_id",
        toks.alias("tokens"),
        # the output n_tokens is the WHITESPACE count; the stats table
        # carries its own (tokenizer) n_tokens for the quality formula
        ws_token_count_col(F.col("text")).cast("long").alias("n_ws_tokens"),
    )
    stats = token_stats_table(survivors.select("doc_id", "tokens"))
    return (
        survivors.drop("tokens")
        .join(stats, "doc_id")
        .withColumn("lang", lang_id_from_stats())
        .withColumn("quality", F.round(quality_from_stats(), RND))
        .filter(F.col("quality") >= CURATION_MIN_QUALITY)
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "lang",
            "quality",
            F.col("n_ws_tokens").alias("n_tokens"),
        )
    )


def _sql_curated_corpus() -> str:
    stop_hits = " + ".join(
        f"len(list_filter(toks, t -> list_contains({list(ws)!r}, t)))"
        for ws in LANG_STOPWORDS.values()
    )
    score_defs = ",\n    ".join(
        f"len(list_filter(toks, t -> list_contains({list(ws)!r}, t)))::BIGINT AS s_{lang}"
        for lang, ws in LANG_STOPWORDS.items()
    )
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in LANG_ORDER) + ")"
    cases = "\n      ".join(
        f"WHEN s_{lang} = best AND best > 0 THEN '{lang}'" for lang in LANG_ORDER
    )
    return f"""WITH dd AS ({SQL_DUP_DOCS}),
tok AS (
  SELECT doc_id, text, regexp_extract_all(lower(text), '{TOKEN_PATTERN_LOWER}') AS toks
  FROM dd
),
m AS (
  SELECT doc_id, text, toks, len(toks)::DOUBLE AS n,
    ({stop_hits})::DOUBLE AS stop_hits,
    len(list_filter(toks, t -> regexp_full_match(t, '[a-z]+')))::DOUBLE AS alpha,
    {score_defs}
  FROM tok
),
m2 AS (SELECT *, {best} AS best FROM m),
enriched AS (
  SELECT doc_id,
    {_POLY.format(s='text')} AS fp,
    CASE {cases}
      ELSE 'und' END AS lang,
    round(0.4 * least(n / 50.0, 1.0)
        + 0.3 * least((CASE WHEN n > 0 THEN stop_hits / n ELSE 0.0 END) / 0.08, 1.0)
        + 0.3 * (CASE WHEN n > 0 THEN alpha / n ELSE 0.0 END), {RND}) AS quality,
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END::BIGINT AS n_tokens
  FROM m2
),
reps AS (SELECT fp, min(doc_id) AS doc_id FROM enriched GROUP BY fp)
SELECT e.doc_id::BIGINT AS doc_id, e.lang, e.quality, e.n_tokens
FROM enriched e JOIN reps r ON e.fp = r.fp AND e.doc_id = r.doc_id
WHERE e.quality >= {CURATION_MIN_QUALITY}"""


# --- multimodal: decode + feature-extract over binary media columns ---------
#
# The REAL mapInPandas decode kernel (operators/multimodal.py
# extract_media_features) runs over binary payloads built from doc_id
# with the LCG byte generator — closed-form per byte, so the DuckDB
# oracle reconstructs every pixel/sample and the 8-bin histogram
# features exactly. Media identity: even doc_id → image/x-fake
# (w = 16 + id%8, h = 12), odd → audio/x-fake (n = 200 + id%50);
# seed = id*7919 + 17.


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vexor_spark.operators.multimodal import (
        encode_lcg_audio,
        encode_lcg_image,
        extract_media_features,
    )
    from pyspark.sql.types import BinaryType

    d = docs_table(spark, sf_dir).select(F.col("doc_id").alias("media_id"))

    @F.pandas_udf(BinaryType())
    def make_payload(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            i = int(i)
            seed = i * 7919 + 17
            if i % 2 == 0:
                out.append(encode_lcg_image(16 + i % 8, 12, seed))
            else:
                out.append(encode_lcg_audio(8000, 200 + i % 50, seed))
        return pd.Series(out)

    media = d.select(
        "media_id",
        F.when(F.col("media_id") % 2 == 0, F.lit("image/x-fake"))
        .otherwise(F.lit("audio/x-fake"))
        .alias("format"),
        make_payload("media_id").alias("data"),
    )
    feats = extract_media_features(media, n_bins=8)
    return feats.select(
        F.col("media_id").cast("long").alias("media_id"),
        "format",
        F.col("meta.width").cast("long").alias("width"),
        F.col("meta.height").cast("long").alias("height"),
        F.col("meta.sample_rate").cast("long").alias("sample_rate"),
        F.col("meta.n_samples").cast("long").alias("n_samples"),
        F.col("meta.n_bytes").cast("long").alias("n_bytes"),
        *[
            F.round(F.element_at("features", j + 1), RND).alias(f"f{j}")
            for j in range(8)
        ],
    )


def _sql_media_features() -> str:
    # byte stream b_i = (seed + i*LCG_MULT) % 256, i = 1..n; histogram
    # bin j (of 8 over range 0..256 / -128..128) = b_i // 32.
    bins = ",\n  ".join(
        f"round(len(list_filter(bs, b -> b // 32 = {j}))::DOUBLE / len(bs), {RND}) AS f{j}"
        for j in range(8)
    )
    return f"""WITH base AS (
  SELECT doc_id AS media_id,
         CASE WHEN doc_id % 2 = 0 THEN 'image/x-fake' ELSE 'audio/x-fake' END AS format,
         CASE WHEN doc_id % 2 = 0 THEN 16 + doc_id % 8 ELSE NULL END AS width,
         CASE WHEN doc_id % 2 = 0 THEN 12 ELSE NULL END AS height,
         CASE WHEN doc_id % 2 = 0 THEN NULL ELSE 8000 END AS sample_rate,
         CASE WHEN doc_id % 2 = 0 THEN NULL ELSE 200 + doc_id % 50 END AS n_samples,
         CASE WHEN doc_id % 2 = 0 THEN (16 + doc_id % 8) * 12 ELSE (200 + doc_id % 50) END AS n,
         doc_id * 7919 + 17 AS seed
  FROM documents
),
streams AS (
  SELECT *, list_transform(generate_series(1, n), i -> (seed + i * 2654435761) % 256) AS bs
  FROM base
)
SELECT media_id::BIGINT AS media_id, format,
  width::BIGINT AS width, height::BIGINT AS height,
  sample_rate::BIGINT AS sample_rate, n_samples::BIGINT AS n_samples,
  (CASE WHEN format = 'image/x-fake' THEN 8 + n ELSE 12 + n END)::BIGINT AS n_bytes,
  {bins}
FROM streams"""


# --- registry -------------------------------------------------------------------

EXT_QUERIES = {
    "cosine_topk": q_cosine_topk,
    "ann_lsh_topk": q_ann_lsh_topk,
    "ivf_ann_topk": q_ivf_ann_topk,
    "ivf_kmeans_topk": q_ivf_kmeans_topk,
    "emb_near_dup": q_emb_near_dup,
    "rrf_hybrid": q_rrf_hybrid,
    "weighted_rerank": q_weighted_rerank,
    "exact_dup_groups": q_exact_dup_groups,
    "minhash_sigs": q_minhash_sigs,
    "near_dup_pairs": q_near_dup_pairs,
    "simhash": q_simhash,
    "simhash_near_dup": q_simhash_near_dup,
    "simhash64_near_dup": q_simhash64_near_dup,
    "exclude_filter": q_exclude_filter,
    "token_counts": q_token_counts,
    "lang_id": q_lang_id,
    "quality_score": q_quality_score,
    "doc_fingerprint": q_fingerprint,
    "chunk_full": q_chunk_full,
    "chunk_code": q_chunk_code,
    "chunk_outline": q_chunk_outline,
    "head_label": q_head_label,
    "keyword_top20": q_keyword_top20,
    "dup_clusters": q_dup_clusters,
    "curated_corpus": q_curated_corpus,
    "media_features": q_media_features,
    "events_hourly": q_events_hourly,
    "events_sessions": q_events_sessions,
}

EXT_ORACLE_SQL = {
    "cosine_topk": SQL_COSINE_TOPK,
    "ann_lsh_topk": _sql_ann_lsh(),
    "ivf_ann_topk": _sql_ivf_ann(),
    "ivf_kmeans_topk": _sql_ivf_kmeans(),
    "emb_near_dup": _sql_emb_near_dup(),
    "rrf_hybrid": _sql_rrf_hybrid(),
    "weighted_rerank": _sql_weighted_rerank(),
    "exact_dup_groups": SQL_EXACT_DUP_GROUPS,
    "minhash_sigs": _sql_minhash_sigs(),
    "near_dup_pairs": _sql_near_dup_pairs(),
    "simhash": _sql_simhash(),
    "simhash_near_dup": _sql_simhash_near_dup(),
    "simhash64_near_dup": _sql_simhash64_near_dup(),
    "exclude_filter": _sql_exclude_filter(),
    "token_counts": SQL_TOKEN_COUNTS,
    "lang_id": _sql_lang_id(),
    "quality_score": _sql_quality(),
    "doc_fingerprint": SQL_FINGERPRINT,
    "chunk_full": SQL_CHUNK_FULL,
    "chunk_code": SQL_CHUNK_CODE,
    "chunk_outline": SQL_CHUNK_OUTLINE,
    "head_label": SQL_HEAD_LABEL,
    "keyword_top20": _sql_keyword_top20(),
    "dup_clusters": _sql_dup_clusters(),
    "curated_corpus": _sql_curated_corpus(),
    "media_features": _sql_media_features(),
    "events_hourly": SQL_EVENTS_HOURLY,
    "events_sessions": SQL_EVENTS_SESSIONS,
}
