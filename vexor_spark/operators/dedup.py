"""Deduplication operators for training-data curation: exact (hash
groupBy), MinHash+LSH banding, SimHash, n-gram Jaccard verification.

All variants are pure column algebra / joins so each has an exact
DuckDB oracle (see catalog.py): the shared primitive is the
cross-engine polynomial hash from textstats.poly_hash_col. Engine-only
fast paths would substitute xxhash64; the algorithms are identical.

Scale notes:
- exact dedup is one groupBy(fingerprint) — map-side combine applies.
- MinHash banding turns near-dup detection into an equi-join on band
  keys: docs sharing any band bucket become candidate pairs. Bucket
  sizes are bounded in practice by signature entropy, but a hot bucket
  (boilerplate pages) self-joins quadratically IN ONE TASK without a
  cap: `max_bucket` chunks each bucket so no join task exceeds
  max_bucket × bucket_size rows (lsh_candidate_pairs docstring) —
  identical output, bounded per-task skew.
- Verification joins carry int64 SHINGLE HASHES, not shingle strings:
  the shuffled payload per doc is 8 bytes/shingle instead of the full
  n-gram text, and array_intersect/union compare longs.
- SimHash gives a 16-bit key split into `d+1` bit-blocks for blocking:
  any pair within Hamming distance d agrees on at least one whole block
  (pigeonhole), so an equi-join on (block_index, block_value) finds ALL
  Hamming-≤d pairs — `simhash_near_dup_pairs` is exact, not approximate,
  for its (hamming ≤ d, jaccard ≥ t) criterion. 16 bits is the
  cross-engine-exact test width; production would widen SIMHASH_BITS to
  64 (more blocks, same algebra) for selectivity at 100 TB.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from vexor_spark.functions.fasthash import poly_hash_text_udf, poly_hash_tokens_udf
from vexor_spark.operators.textstats import HASH_MOD, poly_hash_col
from vexor_spark.plans.local import local_frame

# Deterministic MinHash parameters (a, b): h_j(x) = (a·h(x) + b) % M.
_rng = random.Random(0xC0FFEE)
MINHASH_K = 8
MINHASH_PARAMS: list[tuple[int, int]] = [
    (_rng.randrange(1, HASH_MOD), _rng.randrange(0, HASH_MOD)) for _ in range(MINHASH_K)
]
SIMHASH_BITS = 16
# 64-bit production arm: three affine spreads of the 31-bit poly hash
# (classic public LCG multipliers) supply the 64 sketch bits.
SIMHASH64_BITS = 64
SIMHASH64_PARAMS: list[tuple[int, int]] = [
    (1103515245, 12345),
    (69069, 362437),
    (1664525, 1013904223),
]


def shingle_hashes_from(th: Column, n: int = 3) -> Column:
    """array<long> of n-gram shingle hashes given a PRE-COMPUTED
    token-hash array column; docs shorter than n yield one whole-doc
    hash.

    A shingle's identity is the fold H = foldl(hs, 0, (a,h) → (a·31+h)
    mod M) over its tokens' poly hashes — NOT a re-hash of the n-gram
    STRING, so the per-character work happens once per token. The gram
    fold is plain column arithmetic over element_at. The DuckDB
    oracles compose identically, so hashes (and any collisions) agree
    bit-for-bit.

    `th` MUST be a materialized column attribute (see
    shingle_hash_rows), NOT an inline transform(...) expression:
    lambda-function expressions are CodegenFallback and get no
    common-subexpression elimination, so inlining one into every
    element_at would re-hash the whole token array per gram element —
    O(tokens²) per doc (measured 25× slower at sf0.1)."""

    def gram(i):
        h = F.element_at(th, (i + 1).cast("int"))
        for j in range(1, n):
            h = (h * 31 + F.element_at(th, (i + j + 1).cast("int"))) % HASH_MOD
        return h

    grams = F.transform(F.sequence(F.lit(0), F.size(th) - n), gram)
    # whole-doc arm: same fold over ALL token hashes (0-seed ≡ DuckDB's
    # first-element-seeded list_reduce since 0·31+h = h); empty doc → 0.
    whole = F.array(
        F.aggregate(th, F.lit(0).cast("long"), lambda a, h: (a * 31 + h) % HASH_MOD)
    )
    return F.when(F.size(th) >= n, grams).otherwise(whole)


def shingle_hash_rows(
    docs: DataFrame, tokens_col: str = "tokens", *, shingle_n: int = 3
) -> DataFrame:
    """(doc_id, h) — one row per shingle occurrence. The single place
    token hashing happens (a dedicated projection: CollapseProject will
    not inline a non-cheap alias referenced many times, which keeps the
    token-hash array evaluated once per row); signatures and verify
    sets both aggregate from here (map-side partial agg → one shuffled
    row per doc)."""
    with_th = docs.withColumn("_th", poly_hash_tokens_udf(tokens_col))
    return with_th.select(
        "doc_id", F.explode(shingle_hashes_from(F.col("_th"), shingle_n)).alias("h")
    )


def _sig_aggs(k: int = MINHASH_K) -> list[Column]:
    return [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(HASH_MOD)).alias(f"sig_{j}")
        for j, (a, b) in enumerate(MINHASH_PARAMS[:k])
    ]


def minhash_per_doc(
    docs: DataFrame, tokens_col: str = "tokens", *, shingle_n: int = 3
) -> DataFrame:
    """(doc_id, sig_0..sig_{K-1}, sh) — the fused per-doc MinHash
    feature frame (signatures + sorted distinct shingle-hash set) from
    ONE Arrow kernel pass; the shared build block of the MinHash arms.
    Null-token docs are dropped by a pre-kernel filter (see
    minhash_signatures for why it must precede the UDF)."""
    from vexor_spark.operators.dedup_kernels import make_minhash_features_udf

    udf = make_minhash_features_udf(MINHASH_PARAMS, MINHASH_K, shingle_n)
    return (
        docs.filter(F.col(tokens_col).isNotNull())
        .select("doc_id", udf(tokens_col).alias("f"))
        .select(
            "doc_id",
            *[F.col(f"f.sig_{j}").alias(f"sig_{j}") for j in range(MINHASH_K)],
            F.col("f.sh").alias("sh"),
        )
    )


def minhash_signatures(
    docs: DataFrame, tokens_col: str = "tokens", *, k: int = MINHASH_K, shingle_n: int = 3
) -> DataFrame:
    """(doc_id, sig_0..sig_{k-1}) — k MinHash minima per doc, computed
    in ONE fused Arrow kernel pass (operators/dedup_kernels.py): no
    per-shingle explode, no groupBy exchange; only |docs| signature
    rows ever leave the scan. Values are identical to the explode +
    min-agg form (min over occurrences == min over the distinct set;
    the whole-doc fold arm guarantees every doc ≥1 shingle hash). The
    null-token pre-filter reproduces the old groupBy's drop of
    null-token docs (explode of a null array emitted no rows) — and it
    MUST run before the kernel, not on f.sig_0 after it: a post-UDF
    struct filter gets predicate-pushed below the scan-widening
    exchange, evaluating the whole kernel a SECOND time on the
    unwidened 1-2-partition scan (round-7 plan audit)."""
    from vexor_spark.operators.dedup_kernels import make_minhash_features_udf

    if k == MINHASH_K:
        return minhash_per_doc(docs, tokens_col, shingle_n=shingle_n).drop("sh")
    udf = make_minhash_features_udf(MINHASH_PARAMS, k, shingle_n)
    return (
        docs.filter(F.col(tokens_col).isNotNull())
        .select("doc_id", udf(tokens_col).alias("f"))
        .select(
            "doc_id", *[F.col(f"f.sig_{j}").alias(f"sig_{j}") for j in range(k)]
        )
    )


DEFAULT_MAX_BUCKET = 1024


def bucket_candidate_pairs(
    keyed: DataFrame,
    *,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    payload: tuple[str, ...] = (),
    pair_filter: Column | None = None,
) -> DataFrame:
    """Distinct (doc_a, doc_b), doc_a < doc_b, for docs sharing any
    `bucket_key` in `keyed(doc_id, bucket_key)` — the skew-bounded
    self-join shared by MinHash-LSH banding and SimHash block keys.

    A hot bucket of size m would put all m² comparisons in ONE task
    under a plain equi-join. With `max_bucket` = C each bucket member
    gets an intra-bucket index i (linear, partitioned window) and chunk
    c = i div C; the left side keeps its own chunk, the right side
    replicates row b to chunks 0..c_b. A pair (i_a < i_b ⇔ doc_a <
    doc_b) meets exactly once at key (bucket_key, c_a) since c_a ≤ c_b,
    so the OUTPUT is identical to the uncapped join while no task sees
    more than C left rows × m right rows — per-task work bounded by C·m
    instead of m², spread over ⌈m/C⌉ keys. Replication factor = ⌈m/C⌉
    on the right side only. max_bucket=None restores the plain join.

    `payload` columns of `keyed` ride the self-join as `<col>_a` /
    `<col>_b` on the pair rows and survive the distinct (their values
    are functions of the doc ids, so they do not change its key set).
    `pair_filter` — a predicate over those pair rows — is applied
    BEFORE the distinct: for a predicate that depends only on
    (doc_a, doc_b) it commutes with the dedup, so the output set is
    identical while the distinct shuffles only surviving pairs. On
    clustered corpora the blocking emits orders of magnitude more
    candidates than survive an exact pre-verify (e.g. Hamming over
    carried 8-byte sketches), so filtering inside the join stage
    collapses both the distinct's exchange and the downstream
    per-side lookup joins.
    """
    out_cols = ["doc_a", "doc_b"]
    out_cols += [f"{c}_a" for c in payload] + [f"{c}_b" for c in payload]

    def _finish(joined: DataFrame) -> DataFrame:
        joined = joined.filter(F.col("doc_a") < F.col("doc_b"))
        if pair_filter is not None:
            joined = joined.filter(pair_filter)
        return joined.select(*out_cols).distinct()

    def _plain(rows: DataFrame) -> DataFrame:
        left = rows.select(
            F.col("doc_id").alias("doc_a"),
            "bucket_key",
            *[F.col(c).alias(f"{c}_a") for c in payload],
        )
        right = rows.select(
            F.col("doc_id").alias("doc_b"),
            "bucket_key",
            *[F.col(c).alias(f"{c}_b") for c in payload],
        )
        return left.join(right, "bucket_key")

    if max_bucket is None:
        return _finish(_plain(keyed))
    # (Round-7 note: a small-bucket/big-bucket split — plain join for
    # ≤C buckets, window-chunked join only for the rare >C ones — was
    # prototyped and REVERTED: its bucket-size groupBy + flag join cost
    # more than the saved window sort in an interleaved A/B at 10×,
    # 2.22 s vs 2.07 s for the LSH pairs stage.)
    w = Window.partitionBy("bucket_key").orderBy("doc_id")
    idx = keyed.withColumn("i", F.row_number().over(w) - 1).withColumn(
        "chunk", (F.col("i") / F.lit(int(max_bucket))).cast("int")
    )
    left = idx.select(
        F.col("doc_id").alias("doc_a"),
        "bucket_key",
        F.col("chunk").alias("c"),
        *[F.col(c).alias(f"{c}_a") for c in payload],
    )
    right = idx.select(
        F.col("doc_id").alias("doc_b"),
        "bucket_key",
        F.explode(F.sequence(F.lit(0), F.col("chunk"))).alias("c"),
        *[F.col(c).alias(f"{c}_b") for c in payload],
    )
    return _finish(left.join(right, ["bucket_key", "c"]))


def lsh_candidate_pairs(
    signatures: DataFrame,
    *,
    bands: int = 4,
    rows_per_band: int = 2,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """(doc_a, doc_b) candidate pairs: docs sharing any band bucket,
    via the skew-bounded self-join (bucket_candidate_pairs)."""
    assert bands * rows_per_band <= MINHASH_K
    keyed = signatures.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        ":",
                        F.lit(str(b)),
                        *[
                            F.col(f"sig_{b * rows_per_band + r}").cast("string")
                            for r in range(rows_per_band)
                        ],
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bucket_key"),
    )
    return bucket_candidate_pairs(keyed, max_bucket=max_bucket)


def jaccard_col(set_a: Column, set_b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays."""
    inter = F.size(F.array_intersect(set_a, set_b)).cast("double")
    union = F.size(F.array_union(set_a, set_b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def _verify_jaccard(
    pairs: DataFrame,
    per_doc: DataFrame,
    *,
    threshold: float,
    out_cols: list,
) -> DataFrame:
    """Attach exact shingle-set Jaccard to candidate pairs and keep
    survivors ≥ threshold.

    Join strategy chosen deliberately (guide §3): the unhinted
    pairs⋈per_doc⋈per_doc shape let Spark pick the CORPUS-SIZED
    per_doc frame as the broadcast build side (its localCheckpoint
    scan reports no stats) — a ~300 MB double driver broadcast at 10×
    bench scale and unboundable at 100 TB. The SHUFFLE_HASH hint on
    the per-doc sides makes each verify join a shuffled hash join:
    per-partition build tables of corpus/N rows, no driver collect,
    no sort. Measured at 10×: 2.59 s vs 2.88 s (corpus broadcast) vs
    5.8 s (semi-join participant reduction — its extra checkpoint
    barriers cost more than they save at bench scale)."""
    a = per_doc.select(
        F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")
    ).hint("shuffle_hash")
    b = per_doc.select(
        F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")
    ).hint("shuffle_hash")
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("jaccard", jaccard_col(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select(*out_cols)
    )


def near_dup_pairs(
    docs: DataFrame | None,
    tokens_col: str = "tokens",
    *,
    threshold: float = 0.8,
    shingle_n: int = 3,
    bands: int = 4,
    rows_per_band: int = 2,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    per_doc: DataFrame | None = None,
) -> DataFrame:
    """(doc_a, doc_b, jaccard) — MinHash-LSH candidates verified by
    exact n-gram Jaccard ≥ threshold, computed over int64 shingle-hash
    sets. ONE fused Arrow kernel pass (dedup_kernels) yields both the
    k signatures and the sorted distinct hash set per doc — no
    per-shingle explode, no groupBy/collect_set exchange; the verify
    joins carry 8-byte hashes, not n-gram strings. per_doc feeds THREE
    consumers (the banding pairs and both verify sides), so a lazy
    localCheckpoint materializes the kernel output once. Jaccard over
    hash sets equals shingle-set Jaccard except under poly collisions
    (~|S|²/2³¹ per pair; the DuckDB oracle hashes identically, so
    parity is exact either way)."""
    # `per_doc` injection (round-7): a caller that can build the
    # feature frame more cheaply than a direct kernel pass — e.g. the
    # planted-duplicate catalog corpora, where the duplicate branch's
    # features are an id-shift of the base branch's — passes it in;
    # the caller is responsible for its checkpointing. Default: one
    # kernel pass over `docs` (minhash_per_doc), lazily checkpointed
    # because it feeds three consumers.
    if per_doc is None:
        if docs is None:
            raise ValueError("pass docs or per_doc")
        per_doc = minhash_per_doc(
            docs, tokens_col, shingle_n=shingle_n
        ).localCheckpoint(eager=False)
    sigs = per_doc.select("doc_id", *[f"sig_{j}" for j in range(MINHASH_K)])
    pairs = lsh_candidate_pairs(
        sigs, bands=bands, rows_per_band=rows_per_band, max_bucket=max_bucket
    )
    return _verify_jaccard(
        pairs,
        per_doc.select("doc_id", "sh"),
        threshold=threshold,
        out_cols=["doc_a", "doc_b", "jaccard"],
    )


def simhash_col(tokens: Column, bits: int = SIMHASH_BITS) -> Column:
    """SimHash over token occurrences: bit j is the sign of
    Σ_tokens (2·bit_j(h(token)) − 1)."""
    return simhash_from_hashes(F.transform(tokens, lambda t: poly_hash_col(t)), bits)


def simhash_from_hashes(hashes: Column, bits: int = SIMHASH_BITS) -> Column:
    """SimHash given a PRE-COMPUTED token-hash array column (share the
    hash pass with the shingle machinery via a projection barrier).

    ONE pass over the token-hash array: the fold accumulates all `bits`
    per-bit sums in an array<long> (zip_with inside the aggregate
    merge), instead of `bits` separate aggregate scans. Bit extraction
    is (h div 2^j) mod 2 as arithmetic — power-of-two division is exact
    in doubles for h < 2^53 and the truncating cast is floor for
    positives (F.shiftright rejects lambda-variable Columns in
    pyspark 4, and HOF lambdas must be exactly 2-ary)."""
    init = F.array_repeat(F.lit(0).cast("long"), bits)
    idx = F.sequence(F.lit(0), F.lit(bits - 1))

    def merge(acc, h):
        signs = F.transform(
            idx, lambda j: ((h / F.pow(F.lit(2.0), j)).cast("long") % 2) * 2 - 1
        )
        return F.zip_with(acc, signs, lambda a, b: a + b)

    sums = F.aggregate(hashes, init, merge)
    weights = F.zip_with(
        sums,
        idx,
        lambda s, j: F.when(s > 0, F.pow(F.lit(2.0), j).cast("long")).otherwise(
            F.lit(0).cast("long")
        ),
    )
    return F.aggregate(weights, F.lit(0).cast("long"), lambda a, b: a + b)


def simhash_table(
    docs: DataFrame,
    tokens_col: str = "tokens",
    *,
    bits: int = SIMHASH_BITS,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, simhash) for a whole corpus via the fused Arrow kernel
    (dedup_kernels): per-doc bit counts computed in numpy where the
    tokens already are — no per-token explode, no |docs|-group
    exchange (the round-6 shape exploded every token hash into a row
    and two-phase-aggregated `bits` sums). bit j of the result is set
    iff 2·count(bit_j(h)=1) > n_tokens ⟺ Σ(2·bit−1) > 0, identical to
    the per-row fold (pinned in test_dedup_similarity) and to the
    DuckDB oracle. Tokenless docs → simhash 0 via the kernel's empty
    case; null token arrays coalesce to 0, matching explode_outer's
    count-0 group."""
    from vexor_spark.operators.dedup_kernels import make_simhash_features_udf

    udf = make_simhash_features_udf(bits, None, include_sh=False)
    return docs.select(
        id_col,
        F.coalesce(udf(tokens_col)["sim"], F.lit(0)).cast("long").alias("simhash"),
    )


def simhash_block_bounds(bits: int = SIMHASH_BITS, blocks: int = 3) -> list[tuple[int, int]]:
    """(lo_bit, width) per block — `bits` split as evenly as possible
    into `blocks` contiguous bit ranges (low blocks get the remainder)."""
    base, rem = divmod(bits, blocks)
    bounds: list[tuple[int, int]] = []
    lo = 0
    for i in range(blocks):
        width = base + (1 if i < rem else 0)
        bounds.append((lo, width))
        lo += width
    return bounds


def simhash_block_keys(
    sim: Column, *, bits: int = SIMHASH_BITS, blocks: int = 3
) -> Column:
    """array<string> of `blocks` blocking keys "i:blockvalue" for a
    simhash column. Pigeonhole: hamming(a, b) ≤ blocks−1 ⇒ the ≤
    blocks−1 differing bits leave at least one block untouched, so a
    and b share that block's key — blocking on these keys loses NO pair
    within Hamming distance blocks−1."""
    return F.array(
        *[
            F.concat_ws(
                ":",
                F.lit(str(i)),
                (F.shiftright(sim, lo).bitwiseAND(F.lit((1 << width) - 1))).cast(
                    "string"
                ),
            )
            for i, (lo, width) in enumerate(simhash_block_bounds(bits, blocks))
        ]
    )


def simhash_near_dup_pairs(
    docs: DataFrame,
    tokens_col: str = "tokens",
    *,
    hamming_max: int = 2,
    threshold: float = 0.8,
    shingle_n: int = 3,
    bits: int = SIMHASH_BITS,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """(doc_a, doc_b, hamming, jaccard) — the SimHash-blocked near-dup
    arm: ALL pairs with hamming(simhash) ≤ hamming_max AND exact n-gram
    Jaccard ≥ threshold.

    Unlike the MinHash-LSH arm (probabilistic recall), this arm is
    EXACT for its criterion: `blocks = hamming_max + 1` bit-block keys
    guarantee every Hamming-≤d pair meets in some bucket (pigeonhole,
    simhash_block_keys), the Hamming filter is then verified on the
    real 16-bit distance (bit_count of xor), and survivors get the same
    exact shingle-set Jaccard as near_dup_pairs. The DuckDB oracle
    deliberately brute-forces all O(n²) pairs, so a green oracle row
    empirically re-proves the blocking's losslessness on the corpus.

    ONE fused Arrow kernel pass (dedup_kernels) computes the sketch
    AND the shingle-hash set per doc. No explode/groupBy shuffle on
    the build side; the only shuffles are the bucketed pair join
    (skew-capped like LSH) and the two per-side lookups.

    Scale caveat (measured, round 3): runtime is OUTPUT-bound — the
    operator is exact, so a corpus whose docs genuinely cluster in
    simhash space (e.g. the deliberately homogeneous synthetic
    word-soup: ~1M true hamming-≤2 pairs per 5k docs at 16 bits, still
    ~226k at 31 bits) costs Θ(#true pairs) no matter how the blocking
    is arranged. No blocking scheme can beat its own output size; on
    low-entropy corpora prefer the MinHash-LSH arm (near_dup_pairs),
    whose 3-gram shingles stay discriminative, and reserve this arm
    for high-entropy corpora / wider production hashes (64-bit).
    """
    from vexor_spark.operators.dedup_kernels import make_simhash_features_udf

    blocks = hamming_max + 1
    # lazy localCheckpoint: per_doc feeds five consumers below —
    # materialize the kernel output once (same reason as the 64-bit arm).
    udf = make_simhash_features_udf(bits, None, shingle_n)
    per_doc = (
        docs.select("doc_id", udf(tokens_col).alias("f"))
        .select(
            "doc_id", F.col("f.sim").alias("sim"), F.col("f.sh").alias("sh")
        )
        .localCheckpoint(eager=False)
    )
    keyed = per_doc.select(
        "doc_id",
        "sim",
        F.explode(simhash_block_keys(F.col("sim"), bits=bits, blocks=blocks)).alias(
            "bucket_key"
        ),
    )
    # NARROW-THEN-WIDE, now inside the pair join itself: the 8-byte
    # sketch rides the self-join as payload and the exact Hamming test
    # runs BEFORE the distinct (identical output — the predicate is a
    # function of the pair), so on a clustered corpus the distinct
    # dedups only survivors (measured 26M candidates → ~31k survivors
    # at 10× sf0.1 for the 64-bit arm) and the two per-side sketch
    # lookup joins disappear outright. Only survivors fetch the
    # ~100-element shingle-hash arrays for the exact Jaccard verify.
    ham = bucket_candidate_pairs(
        keyed,
        max_bucket=max_bucket,
        payload=("sim",),
        pair_filter=(
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))) <= hamming_max
        ),
    ).select(
        "doc_a",
        "doc_b",
        F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).alias("hamming"),
    )
    return _verify_jaccard(
        ham,
        per_doc.select("doc_id", "sh"),
        threshold=threshold,
        out_cols=["doc_a", "doc_b", "hamming", "jaccard"],
    )


def simhash64_table(
    docs: DataFrame,
    tokens_col: str = "tokens",
    *,
    id_col: str = "doc_id",
    hashed: bool = False,
) -> DataFrame:
    """(id, simhash64) — the 64-bit PRODUCTION SimHash arm (the width
    the 16-bit docstring promises for selectivity at 100 TB scale).

    The shared cross-engine poly hash yields only 31 entropy bits, so
    64 simhash bits are drawn from THREE affine spreads of it:
    d_k = (A_k·h + B_k) mod M for k∈{0,1,2} (classic public LCG
    multipliers), and bit j of the sketch reads bit (j mod 31) of
    d_{j div 31}. Pure column arithmetic on both engines, so the
    DuckDB oracle composes bit-for-bit (A_k·h ≤ 1.7e6·2^31 ≈ 2^52 —
    no ANSI long overflow).

    Same whole-stage-codegen shape as simhash_table: explode token
    hashes → 64 `shiftright/&/sum` aggregates with map-side partials,
    one shuffle of |docs| groups. The result long is assembled with
    bitwiseOR (never `+`): bit 63 is the sign bit and shiftleft(1,63)
    is MIN_LONG — OR is wrap-free where an ANSI sum could overflow.
    Tokenless docs: explode_outer → NULL hashes → count 0 → sketch 0.

    `hashed=True` means tokens_col already holds the poly-hash array
    (share the `_th` projection barrier with the shingle machinery)."""
    tok_hashes = (
        F.col(tokens_col) if hashed else poly_hash_tokens_udf(tokens_col)
    )
    hashed_rows = docs.select(id_col, F.explode_outer(tok_hashes).alias("h"))
    derived = hashed_rows.select(
        id_col,
        *[
            ((F.col("h") * F.lit(a) + F.lit(b)) % F.lit(HASH_MOD)).alias(f"d{k}")
            for k, (a, b) in enumerate(SIMHASH64_PARAMS)
        ],
    )

    # Three bit-counts PACKED per aggregate at 21-bit lanes: 22 sums
    # instead of 64 (measured ~2× on the aggregation). Lane safety
    # under ANSI: a packed row value is < 2^43, a per-doc lane count is
    # bounded by tokens-per-doc < 2^21 (the 200k-char edge doc has
    # ~40k), so group partial sums stay < 2^57 — no long overflow.
    def _bit(j: int):
        return F.shiftright(F.col(f"d{j // 31}"), j % 31).bitwiseAND(F.lit(1))

    n_packs = (SIMHASH64_BITS + 2) // 3
    packs = []
    for p in range(n_packs):
        lanes = None
        for s in range(3):
            j = 3 * p + s
            if j >= SIMHASH64_BITS:
                break
            lane = F.shiftleft(_bit(j).cast("long"), 21 * s)
            lanes = lane if lanes is None else lanes + lane
        packs.append(F.sum(lanes).alias(f"p{p}"))
    counts = derived.groupBy(id_col).agg(F.count("d0").alias("n"), *packs)

    lane_mask = F.lit((1 << 21) - 1)
    sim = None
    for j in range(SIMHASH64_BITS):
        p, s = divmod(j, 3)
        c = F.shiftright(F.coalesce(F.col(f"p{p}"), F.lit(0)), 21 * s).bitwiseAND(
            lane_mask
        )
        term = F.when(
            c * 2 > F.col("n"), F.shiftleft(F.lit(1).cast("long"), j)
        ).otherwise(F.lit(0).cast("long"))
        sim = term if sim is None else sim.bitwiseOR(term)
    return counts.select(id_col, sim.cast("long").alias("simhash64"))


def simhash64_near_dup_pairs(
    docs: DataFrame,
    tokens_col: str = "tokens",
    *,
    hamming_max: int = 3,
    threshold: float = 0.8,
    shingle_n: int = 3,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """(doc_a, doc_b, hamming, jaccard) — the 64-bit near-dup arm:
    ALL pairs with hamming(simhash64) ≤ hamming_max AND exact shingle
    Jaccard ≥ threshold. Exact for its criterion by the same pigeonhole
    argument as the 16-bit arm (hamming_max+1 bit-blocks of ~16 bits;
    simhash_block_keys masks after the arithmetic shift, so the sign
    bit block is handled correctly for negative sketches).

    Unlike the 16-bit arm this one is NOT output-bound on real
    corpora: at 64 bits the background Hamming distribution
    concentrates near 32 (measured p1 = 9 on the synthetic corpus vs
    planted-edge pairs at ≤ 3), so blocking keys of 16 bits give
    ~2^16-way selectivity per block. per-doc sketches come from the
    codegen bulk table (one |docs| groupBy) joined back to the shingle
    sets — at scale both sides are shuffles on doc_id, and the pair
    join is skew-capped like LSH."""
    from vexor_spark.operators.dedup_kernels import make_simhash_features_udf

    blocks = hamming_max + 1
    # ONE fused Arrow kernel pass yields (sketch, shingle set) per doc
    # — the previous shape aggregated the sketch via explode+groupBy
    # (an exchange of every token row, 22 packed sums) and JOINED it
    # back to a separately-computed shingle table (another exchange +
    # a second tokenize/hash pass: no CSE across join branches).
    # per_doc feeds FIVE consumers (block keys, both sketch sides,
    # both shingle sides) — lazy localCheckpoint materializes the
    # kernel output once.
    udf = make_simhash_features_udf(SIMHASH64_BITS, SIMHASH64_PARAMS, shingle_n)
    per_doc = (
        docs.select("doc_id", udf(tokens_col).alias("f"))
        .select("doc_id", F.col("f.sim").alias("sim"), F.col("f.sh").alias("sh"))
        .localCheckpoint(eager=False)
    )
    keyed = per_doc.select(
        "doc_id",
        "sim",
        F.explode(
            simhash_block_keys(F.col("sim"), bits=SIMHASH64_BITS, blocks=blocks)
        ).alias("bucket_key"),
    )
    # NARROW-THEN-WIDE inside the pair join (see the 16-bit arm): the
    # sketch rides the self-join as payload and the exact Hamming test
    # runs before the distinct — identical output, but the distinct
    # dedups only survivors (26M candidates → ~31k at 10× sf0.1) and
    # the two per-side sketch lookup joins disappear.
    ham = bucket_candidate_pairs(
        keyed,
        max_bucket=max_bucket,
        payload=("sim",),
        pair_filter=(
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))) <= hamming_max
        ),
    ).select(
        "doc_a",
        "doc_b",
        F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).alias("hamming"),
    )
    return _verify_jaccard(
        ham,
        per_doc.select("doc_id", "sh"),
        threshold=threshold,
        out_cols=["doc_a", "doc_b", "hamming", "jaccard"],
    )


# Pair-count cap for the driver union-find arm of dup_clusters: 2M
# (doc_a, doc_b) rows ≈ 32 MB collected — the same bounded-collect
# discipline as the WAND candidate cap, with the distributed loop as
# the guaranteed fallback above it.
DUP_PAIRS_DRIVER_MAX = 2_000_000


def dup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    max_iters: int = 25,
    metrics: dict | None = None,
    driver_pairs_max: int | None = DUP_PAIRS_DRIVER_MAX,
) -> DataFrame:
    """(doc_id, cluster_rep) — connected components over near-duplicate
    pairs by min-label propagation WITH pointer jumping; singletons map
    to themselves. The keep-one-copy reduction for a dedup pipeline:
    representative = min doc_id of the component.

    Each round every node takes min(own label, neighbors' labels), then
    shortcuts through its label's label (label(v) ← label(label(v)) —
    labels are always node ids, so the label table doubles as the
    pointer table). Plain propagation needs O(component diameter)
    rounds — a pathological 10k-doc duplicate CHAIN (a, a≈b, b≈c, …,
    each link individually near-dup) would need 10k rounds; the
    shortcut makes the label deficit grow geometrically (d_{r+1} ≥
    2·d_r + 2 on a path), so rounds = O(log diameter): ~13 rounds for a
    10k chain, 1-2 for the LSH near-cliques that dominate real corpora
    (tests/test_dedup_similarity.py pins both bounds). Per round: two
    shuffle joins + one partial aggregate, with an eager localCheckpoint
    to truncate the iterative lineage (an unbounded plan is the classic
    iterative-algorithm failure mode). Convergence is a driver-side
    changed-count check; `metrics["rounds"]` records the count.

    Small-graph fast path (round-7): near-dup pair sets are tiny
    relative to the corpus (the whole point of dedup blocking), and
    every distributed round costs ~5 scheduled jobs regardless of
    size. When the pair count fits `driver_pairs_max` (bounded
    LIMIT+collect — ~16 bytes/pair, the WAND-candidate discipline),
    components are solved by driver union-find and labels re-attach as
    ONE broadcast left join; otherwise the distributed loop runs
    unchanged. Identical output: representative = min doc_id of the
    component, singletons (incl. docs absent from pairs) label
    themselves. Precondition (both arms): pair endpoints ⊆ docs.
    """
    F_ = F
    if driver_pairs_max is not None:
        head = (
            pairs.select("doc_a", "doc_b").limit(driver_pairs_max + 1).collect()
        )
        if len(head) <= driver_pairs_max:
            parent: dict = {}

            def find(x):
                r = x
                while parent.get(r, r) != r:
                    r = parent[r]
                while parent.get(x, x) != x:
                    parent[x], x = r, parent[x]
                return r

            for row in head:
                a, b = row["doc_a"], row["doc_b"]
                ra, rb = find(a), find(b)
                if ra != rb:
                    # union by min id keeps roots = component minima
                    lo, hi = (ra, rb) if ra < rb else (rb, ra)
                    parent[hi] = lo
                    parent.setdefault(lo, lo)
            label = {n: find(n) for n in parent}
            if metrics is not None:
                metrics["rounds"] = 0
                metrics["driver_pairs"] = len(head)
            spark = docs.sparkSession
            lbl = local_frame(
                spark,
                [(int(n), int(r)) for n, r in label.items()],
                "node bigint, label bigint",
            )
            node = docs.select(F_.col(id_col).alias("node")).join(
                F_.broadcast(lbl), "node", "left"
            )
            return node.select(
                F_.col("node").alias(id_col),
                F_.coalesce("label", F_.col("node")).alias("cluster_rep"),
            )
    edges = pairs.select(
        F_.col("doc_a").alias("s"), F_.col("doc_b").alias("d")
    ).union(pairs.select(F_.col("doc_b").alias("s"), F_.col("doc_a").alias("d")))
    edges = edges.localCheckpoint(eager=True)
    labels = docs.select(
        F_.col(id_col).alias("node"), F_.col(id_col).alias("label")
    ).localCheckpoint(eager=True)
    rounds = 0
    for it in range(max_iters):
        rounds += 1
        nbr = (
            edges.join(labels, edges["s"] == labels["node"])
            .groupBy("d")
            .agg(F_.min("label").alias("nbr_label"))
        )
        propagated = labels.join(nbr, labels["node"] == nbr["d"], "left").select(
            "node",
            F_.least(
                F_.col("label"), F_.coalesce("nbr_label", F_.col("label"))
            ).alias("label"),
        )
        if it >= 1:
            # pointer jump: label ← label(label). Every label is a node
            # id (init self; mins of node ids), so the lookup always
            # resolves; the left join + coalesce is belt-and-braces for
            # filtered docs. Skipped in round 1: LSH near-cliques
            # converge in 1-2 plain rounds, so the extra join would be
            # pure job overhead there, while chains still get the
            # geometric deficit growth from round 2 on.
            jump = propagated.select(
                F_.col("node").alias("label"), F_.col("label").alias("label2")
            )
            propagated = propagated.join(jump, "label", "left").select(
                "node",
                F_.coalesce("label2", F_.col("label")).alias("label"),
            )
        new_labels = propagated.localCheckpoint(eager=True)
        converged = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F_.col("n.label") != F_.col("o.label"))
            .isEmpty()  # LIMIT-1 probe, cheaper than a full count
        )
        labels = new_labels
        if converged:
            break
    if metrics is not None:
        metrics["rounds"] = rounds
    return labels.select(
        F_.col("node").alias(id_col), F_.col("label").alias("cluster_rep")
    )


def exact_dup_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(fingerprint, rep_doc_id, n_docs) — exact duplicate groups by
    whole-text rolling hash; representative = min doc_id (the
    keep-one-copy policy)."""
    return (
        docs.select("doc_id", poly_hash_text_udf(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").cast("long").alias("rep_doc_id"),
            F.count("*").cast("long").alias("n_docs"),
        )
    )
