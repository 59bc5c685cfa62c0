"""Similarity search over embedding columns (array<float>).

- Brute-force cosine top-k: JVM higher-order functions (zip_with +
  aggregate, sequential left-to-right sums so the DuckDB oracle can
  reproduce doubles bit-for-bit), TakeOrderedAndProject for top-k.
  At scale this is one scan + local top-k per partition + driver merge
  of k rows — no shuffle.
- LSH-bucketed ANN: random-hyperplane signatures (seeded, literal
  planes shared with the SQL oracle) give a bucket key; the query
  probes only its bucket. The scale path partitions the table by
  bucket so a probe prunes to one partition; recall is tuned with
  multi-probe (flipping low-margin bits) — exposed via `probe_buckets`.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ANN_SEED = 0x5EED
ANN_PLANES = 4  # 16 buckets


def hyperplanes(dim: int, n_planes: int = ANN_PLANES, seed: int = ANN_SEED) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return [[float(x) for x in rng.randn(dim)] for _ in range(n_planes)]


def dot_col(vec: Column, weights: list[float]) -> Column:
    """Sequential dot product of an array column with a literal vector.

    Deliberately the compact `F.aggregate` fold, NOT a 64-term unrolled
    sum: unrolling is IEEE-equivalent and codegen-eligible, but with 8
    centroids/planes per row janino gets multi-thousand-term methods
    and fails (InternalCompilerException; plan/compile memory blows up
    long before runtime wins). Measured: fold-based similarity entries
    are ~1 s full-scan at 500k vectors — the fold is not the
    bottleneck, and it is what the DuckDB list_reduce oracle mirrors."""
    arr = F.array(*[F.lit(w) for w in weights])
    return F.aggregate(
        F.zip_with(vec, arr, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_col(vec: Column, dim: int | None = None) -> Column:
    """Euclidean norm as the sequential fold (`dim` accepted for API
    symmetry; see dot_col for why this stays a fold)."""
    return F.sqrt(
        F.aggregate(
            F.transform(vec, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_lit_col(vec: Column, query: list[float]) -> Column:
    """cosine(vec, literal query); 0 when either norm is 0."""
    qnorm = float(np.sqrt(np.sum(np.asarray(query, dtype=np.float64) ** 2)))
    if qnorm == 0:
        return F.lit(0.0)
    n = norm_col(vec)
    return F.when(n > 0, dot_col(vec, query) / (n * F.lit(qnorm))).otherwise(F.lit(0.0))


def make_multi_cosine_udf(vectors: list[list[float]]):
    """vec → array<double> of cosine(vec, vectors[m]) — the vectorized
    Arrow twin of cosine_lit_col, BIT-IDENTICAL by construction
    (round-7; pinned in tests/test_dedup_similarity.py):

    the Column fold accumulates left-to-right per element
    (((0+x0·w0)+x1·w1)+…), and the kernel's per-dimension numpy loop
    `acc = acc + v[:, i]·w_i` performs the SAME IEEE op sequence for
    every row at C speed — one kernel pass covers ALL m reference
    vectors (the IVF cell assignment evaluated 8 interpreted folds per
    row). Zero-norm rows yield 0.0, zero-norm reference vectors yield
    0.0 (matching cosine_lit_col's lit(0.0) short-circuit)."""
    from pyspark.sql.types import ArrayType, DoubleType

    W = [np.asarray(v, dtype=np.float64) for v in vectors]
    qnorms = [float(np.sqrt(np.sum(w**2))) for w in W]

    @F.pandas_udf(ArrayType(DoubleType()))
    def multi_cosine(vecs: pd.Series) -> pd.Series:
        if not len(vecs):
            return pd.Series([], dtype="object")
        V = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        n_rows, dim = V.shape
        # sequential left-to-right norm, same order as norm_col's fold
        nacc = np.zeros(n_rows)
        for i in range(dim):
            nacc = nacc + V[:, i] * V[:, i]
        norms = np.sqrt(nacc)
        out = np.zeros((n_rows, len(W)))
        pos = norms > 0
        for m, w in enumerate(W):
            if qnorms[m] == 0:
                continue
            dacc = np.zeros(n_rows)
            for i in range(dim):
                dacc = dacc + V[:, i] * w[i]
            out[pos, m] = dacc[pos] / (norms[pos] * qnorms[m])
        return pd.Series(list(out))

    return multi_cosine


def make_lsh_bucket_udf(planes: list[list[float]]):
    """vec → long LSH bucket — vectorized twin of lsh_bucket_col (bit
    j = [dot(vec, plane_j) ≥ 0], dots in the same sequential order)."""
    from pyspark.sql.types import LongType

    P = [np.asarray(p, dtype=np.float64) for p in planes]

    @F.pandas_udf(LongType())
    def lsh_bucket(vecs: pd.Series) -> pd.Series:
        if not len(vecs):
            return pd.Series([], dtype="int64")
        V = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        n_rows, dim = V.shape
        bucket = np.zeros(n_rows, dtype=np.int64)
        for j, p in enumerate(P):
            acc = np.zeros(n_rows)
            for i in range(dim):
                acc = acc + V[:, i] * p[i]
            bucket |= np.where(acc >= 0, np.int64(1 << j), np.int64(0))
        return pd.Series(bucket)

    return lsh_bucket


def cosine_topk(
    emb: DataFrame,
    query: list[float],
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int | None = None,
) -> DataFrame:
    """(rank, vec_id, cos) — brute-force cosine top-k, ties by id asc.
    TakeOrderedAndProject + bounded driver rank (plans/topk.py)."""
    from vexor_spark.plans.topk import take_ranked

    # vectorized Arrow cosine kernel (bit-identical to the Column fold
    # — make_multi_cosine_udf docstring; the fold evaluated one
    # interpreted lambda per element per row)
    cos = F.element_at(make_multi_cosine_udf([query])(F.col(vec_col)), 1)
    scored = emb.select(F.col(id_col).cast("long").alias(id_col), cos.alias("cos"))
    if round_dp is not None:
        scored = scored.withColumn("cos", F.round("cos", round_dp))
    ranked = take_ranked(scored, [F.desc("cos"), F.asc(id_col)], k)
    return ranked.select("rank", id_col, "cos")


def lsh_bucket_col(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane bucket: bit j = [dot(vec, plane_j) >= 0]."""
    out = F.lit(0).cast("long")
    for j, plane in enumerate(planes):
        out = out + F.when(dot_col(vec, plane) >= 0, F.lit(1 << j)).otherwise(F.lit(0))
    return out


def bucket_of(query: list[float], planes: list[list[float]]) -> int:
    q = np.asarray(query, dtype=np.float64)
    b = 0
    for j, plane in enumerate(planes):
        if float(np.dot(q, np.asarray(plane, dtype=np.float64))) >= 0:
            b |= 1 << j
    return b


def cosine_pair_col(a: Column, b: Column, dim: int | None = None) -> Column:
    """cosine between two array columns (sequential sums; see dot_col
    for why these stay folds)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    na, nb = norm_col(a), norm_col(b)
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


def embedding_near_dup_pairs(
    emb: DataFrame,
    *,
    threshold: float = 0.95,
    planes: list[list[float]] | None = None,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id_a, id_b, cos) — embedding-cosine near-duplicates: candidate
    pairs share a random-hyperplane LSH bucket (equi-join), verified by
    exact cosine ≥ threshold. The blocking join bounds the quadratic
    pair space the way MinHash banding does for text.

    Pass `planes` or `dim` (planes are plan-time literals; deriving the
    dimension from the data would need a driver round-trip inside the
    operator, which we refuse by contract)."""
    if planes is None:
        if dim is None:
            raise ValueError("embedding_near_dup_pairs: pass planes or dim")
        planes = hyperplanes(dim)
    bucketed = emb.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).alias("v"),
        make_lsh_bucket_udf(planes)(F.col(vec_col)).alias("bucket"),
    )
    left = bucketed.select(F.col("id").alias("id_a"), F.col("v").alias("va"), "bucket")
    right = bucketed.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), "bucket")
    return (
        left.join(right, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos", cosine_pair_col(F.col("va"), F.col("vb"), dim=len(planes[0]))
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


# --- IVF (inverted-file) ANN — the scale path ------------------------------

IVF_SEED = 0x1F1F
IVF_CELLS = 8


def ivf_centroids(dim: int, n_cells: int = IVF_CELLS, seed: int = IVF_SEED) -> list[list[float]]:
    """Seeded gaussian centroids (deterministic; a production build
    would k-means them — the assignment/probe plumbing is identical)."""
    rng = np.random.RandomState(seed)
    return [[float(x) for x in rng.randn(dim)] for _ in range(n_cells)]


def round6_det(x: float) -> float:
    """floor(x·1e6 + 0.5)/1e6 — the shared IEEE rounding sequence used
    wherever both engines must agree on a 6-dp value (engine-native
    round() implementations split exact ties differently)."""
    import math

    return math.floor(x * 1e6 + 0.5) / 1e6


def ivf_kmeans_centroids(
    emb: DataFrame,
    dim: int,
    *,
    n_cells: int = IVF_CELLS,
    iters: int = 2,
    seed: int = IVF_SEED,
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic Lloyd k-means for IVF cells: seeded gaussian init,
    a FIXED number of iterations, argmax-cosine assignment (ties to the
    lowest cell), per-cell elementwise mean re-centering with empty
    cells keeping their previous centroid, and centroids floor-rounded
    to 6 dp after each iteration so the whole trajectory is
    reproducible bit-for-bit across engines (the DuckDB oracle replays
    the identical two iterations in SQL).

    Distributed shape: each iteration is one corpus scan + a groupBy
    over ≤ n_cells groups with `dim` avg aggregates (whole-stage
    codegen, map-side partials) and a ≤ n_cells-row collect — the
    classic scalable k-means step; iterations are fixed, not
    convergence-driven, by design (determinism and bounded cost).

    Residual tie risk (documented, accepted): F.avg sums doubles in
    partition order, so a per-cell mean that lands within 1 ulp of an
    exact 0.5e-6 boundary could floor-round differently across
    partitionings/engines; the 6-dp floor round makes this a measure-
    zero event on real inputs but does not eliminate it. A fully
    order-independent variant would sort-by-id per cell or accumulate
    in fixed point; not worth the extra shuffle for an ANN coarse
    quantizer whose cells only need to be *consistent within one
    build* — the oracle replays the same trajectory from the rounded
    centroids, so any flip would surface as a red `ivf_kmeans_topk`
    row rather than silent wrongness."""
    cents = ivf_centroids(dim, n_cells, seed)
    for _ in range(iters):
        assigned = with_ivf_cell(emb, cents, vec_col=vec_col)
        aggs = [
            F.avg(F.element_at(F.col(vec_col), i + 1)).alias(f"m{i}")
            for i in range(dim)
        ]
        rows = assigned.groupBy("_cell").agg(*aggs).collect()
        means = {
            int(r["_cell"]): [round6_det(float(r[f"m{i}"])) for i in range(dim)]
            for r in rows
        }
        cents = [means.get(j, cents[j]) for j in range(n_cells)]
    return cents


def with_ivf_cell(
    df: DataFrame, centroids: list[list[float]], *, vec_col: str = "embedding"
) -> DataFrame:
    """df + `_cell` (argmax-cosine centroid, ties to lowest index) with
    the per-centroid cosines materialized in their own projection, so
    each 64-term unrolled cosine is evaluated ONCE per row and the
    argmax CASE chain references cheap column attributes (CollapseProject
    refuses to inline a non-cheap alias used more than once — the same
    barrier trick as the token-hash arrays in dedup)."""
    n = len(centroids)
    # ONE Arrow kernel pass computes every centroid cosine (round-7;
    # the previous shape evaluated n interpreted folds per row); the
    # array is aliased in its own projection so the kernel runs once.
    with_arr = df.select(
        "*", make_multi_cosine_udf(centroids)(F.col(vec_col)).alias("_ccs")
    )
    with_cos = with_arr.select(
        "*",
        *[F.element_at(F.col("_ccs"), j + 1).alias(f"_cc{j}") for j in range(n)],
    ).drop("_ccs")
    best = F.greatest(*[F.col(f"_cc{j}") for j in range(n)])
    expr = None
    for j in range(n):
        cond = F.col(f"_cc{j}") == best
        expr = F.when(cond, F.lit(j)) if expr is None else expr.when(cond, F.lit(j))
    cell = expr.otherwise(F.lit(0)).cast("int")
    return with_cos.withColumn("_cell", cell).drop(*[f"_cc{j}" for j in range(n)])


def ivf_query_cells(query: list[float], centroids: list[list[float]], n_probe: int) -> list[int]:
    q = np.asarray(query, dtype=np.float64)
    qn = np.sqrt((q * q).sum())
    sims = []
    for j, c in enumerate(centroids):
        cv = np.asarray(c, dtype=np.float64)
        cn = np.sqrt((cv * cv).sum())
        sims.append((-(float(np.dot(q, cv)) / (qn * cn)) if qn and cn else 0.0, j))
    sims.sort()
    return [j for _, j in sims[:n_probe]]


def ivf_topk(
    emb: DataFrame,
    query: list[float],
    k: int = 10,
    *,
    centroids: list[list[float]] | None = None,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int | None = None,
) -> DataFrame:
    """(rank, vec_id, cos) — IVF ANN: rows are assigned to their
    nearest-centroid cell; the query probes its n_probe nearest cells
    and brute-forces within. At scale the table is PARTITIONED by cell
    so a probe prunes to n_probe partitions (same layout trick as the
    postings term buckets)."""
    if centroids is None:
        centroids = ivf_centroids(len(query))
    cells = ivf_query_cells(query, centroids, n_probe)
    assigned = with_ivf_cell(emb, centroids, vec_col=vec_col)
    candidates = assigned.filter(F.col("_cell").isin([int(c) for c in cells]))
    return cosine_topk(candidates, query, k, id_col=id_col, vec_col=vec_col, round_dp=round_dp)


def ann_topk(
    emb: DataFrame,
    query: list[float],
    k: int = 10,
    *,
    planes: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int | None = None,
    probe_buckets: int = 1,
) -> DataFrame:
    """(rank, vec_id, cos) — approximate: cosine top-k within the
    query's LSH bucket(s). probe_buckets>1 adds single-bit-flip
    neighbor buckets (multi-probe) for recall."""
    if planes is None:
        dim = len(query)
        planes = hyperplanes(dim)
    b0 = bucket_of(query, planes)
    buckets = [b0]
    if probe_buckets > 1:
        buckets += [b0 ^ (1 << j) for j in range(min(probe_buckets - 1, len(planes)))]
    bucketed = emb.withColumn(
        "_bucket", make_lsh_bucket_udf(planes)(F.col(vec_col))
    )
    candidates = bucketed.filter(F.col("_bucket").isin([int(b) for b in buckets]))
    return cosine_topk(
        candidates, query, k, id_col=id_col, vec_col=vec_col, round_dp=round_dp
    )
