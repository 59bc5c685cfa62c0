"""Fused per-document dedup feature kernels (Arrow-batched numpy).

One vectorized pass per Arrow batch computes, per document, everything
the near-dup operators need — token poly hashes, n-gram shingle-hash
sets, MinHash signatures, SimHash sketches — so the DataFrame plans
lose their explode → groupBy aggregation shuffles (|tokens| rows per
doc) and the sketch⋈shingle-set join; per-doc features are computed
where the tokens already are and only small per-doc rows move (guide
§8: decide with small rows).

Value identity with the unfused operators (explode+agg forms and the
DuckDB oracles) is pinned by tests/test_dedup_similarity.py and the
catalog oracle suite:
- shingle hashes: gram fold ((th_i·31+th_{i+1})%M·31+th_{i+2})%M for
  docs with ≥ n tokens; whole-doc Horner fold otherwise; empty → [0]
  (dedup.shingle_hashes_from).
- sh sets: sorted distinct = np.unique.
- MinHash: sig_j = min over shingle-hash OCCURRENCES of (a_j·h+b_j)%M
  — equal over the distinct set (min ignores duplicates).
- SimHash: bit j set iff 2·count(bit_j=1) > n_tokens; n_tokens = 0 →
  sketch 0. 64-bit arm reads bit (j mod 31) of the affine spread
  d_{j div 31} = (A_k·h+B_k)%M; 16-bit arm reads bit j of h directly.

All arithmetic is exact in uint64: every affine multiplier and offset
(MinHash a_j, b_j and SimHash64 A_k, B_k) and every hash h is < 2^31, so
a·h < 2^62 and a·h + b < 2^63, with at least one bit of headroom below
2^64 (SIMHASH64_PARAMS[0] = 1103515245 ≈ 2^30 puts products near 2^61).
Per-bit pack sums stay < 2^57 for < 2^21 tokens/doc, the same lane
argument as dedup.simhash64_table.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from vexor_spark.functions.fasthash import (
    HASH_MOD,
    hash_many_short,
    hash_tokens_factorized,
)

_M = np.uint64(HASH_MOD)
_31 = np.uint64(31)

# SimHash dense-count gate: use the doc×unique count-matrix path when
# its work (n_docs · n_unique) is within this factor of the occurrence
# count — Zipf token streams qualify by orders of magnitude; a
# high-entropy batch (n_unique ~ |occurrences|) falls back to the
# occurrence-lane reduceat path. Tests monkeypatch this to force and
# cross-check both paths on identical data. Peak memory of the dense
# path: the one float64 count matrix, n_docs · n_unique · 8 B ≤
# 8 · 8 = 64 B per token occurrence (64 MB for a 1M-token batch).
_DENSE_MAX_RATIO = 8


def _flatten(tokens: pd.Series):
    """Series of token lists → (flat token list, counts, null mask)."""
    n = len(tokens)
    counts = np.zeros(n, dtype=np.int64)
    nulls = np.zeros(n, dtype=bool)
    flat: list = []
    for i, arr in enumerate(tokens):
        if arr is None:
            nulls[i] = True
            continue
        counts[i] = len(arr)
        flat.extend(arr)
    return flat, counts, nulls


def _shingle_occurrences(th: np.ndarray, counts: np.ndarray, shingle_n: int):
    """Per-doc shingle-hash OCCURRENCE arrays, flattened.

    Returns (H, starts, sizes): doc i's occurrences are
    H[starts[i] : starts[i] + sizes[i]] (≥1 per doc — the whole-doc
    fold arm guarantees it, matching shingle_hashes_from)."""
    n = len(counts)
    tok_starts = np.zeros(n, dtype=np.int64)
    np.cumsum(counts[:-1], out=tok_starts[1:]) if n > 1 else None
    sizes = np.where(counts >= shingle_n, counts - (shingle_n - 1), 1)
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(sizes[:-1], out=starts[1:]) if n > 1 else None
    H = np.zeros(int(sizes.sum()), dtype=np.uint64)

    # gram arm: segmented vectorized fold over eligible docs
    elig = np.flatnonzero(counts >= shingle_n)
    if len(elig):
        g = counts[elig] - (shingle_n - 1)
        G = int(g.sum())
        gstarts = np.zeros(len(elig), dtype=np.int64)
        if len(elig) > 1:
            np.cumsum(g[:-1], out=gstarts[1:])
        within = np.arange(G, dtype=np.int64) - np.repeat(gstarts, g)
        src = np.repeat(tok_starts[elig], g) + within
        acc = th[src]
        for j in range(1, shingle_n):
            acc = (acc * _31 + th[src + j]) % _M
        dst = np.repeat(starts[elig], g) + within
        H[dst] = acc

    # whole-doc fold arm (docs with 0 < count < shingle_n; empty → 0
    # which H is already initialized to)
    short = np.flatnonzero((counts > 0) & (counts < shingle_n))
    for i in short:
        h = np.uint64(0)
        for j in range(int(counts[i])):
            h = (h * _31 + th[tok_starts[i] + j]) % _M
        H[starts[i]] = h
    return H, starts, sizes


def _sh_lists(H: np.ndarray, starts: np.ndarray, sizes: np.ndarray):
    """Per-doc sorted distinct shingle-hash arrays (int64).

    Stays a per-doc np.unique loop ON MEASUREMENT: 3-gram shingle
    hashes are ~all-unique within a doc, so a global lexsort+mask pass
    sorts the full occurrence stream (0.22 s/1M) while 20k tiny
    per-doc sorts cost 0.10 s — the loop wins at every batch size
    tried (round-7 A/B)."""
    out = []
    for i in range(len(starts)):
        seg = H[starts[i] : starts[i] + sizes[i]]
        out.append(np.unique(seg).astype(np.int64))
    return out


def make_minhash_features_udf(params: list, k: int, shingle_n: int = 3):
    """tokens → struct(sig_0..sig_{k-1} long, sh array<long>)."""
    fields = [StructField(f"sig_{j}", LongType()) for j in range(k)]
    fields.append(StructField("sh", ArrayType(LongType())))
    a_arr = np.array([a for a, _ in params[:k]], dtype=np.uint64)
    b_arr = np.array([b for _, b in params[:k]], dtype=np.uint64)

    @F.pandas_udf(StructType(fields))
    def minhash_features(tokens: pd.Series) -> pd.DataFrame:
        flat, counts, nulls = _flatten(tokens)
        th = hash_many_short(flat).astype(np.uint64)
        H, starts, sizes = _shingle_occurrences(th, counts, shingle_n)
        sh = _sh_lists(H, starts, sizes)
        any_null = bool(nulls.any())
        cols: dict = {}
        for j in range(k):
            vals = (a_arr[j] * H + b_arr[j]) % _M
            if len(H):
                mins = np.minimum.reduceat(vals, starts).astype(np.int64)
            else:
                mins = np.zeros(len(counts), dtype=np.int64)
            # no-null fast path: hand pandas the int64 array directly
            # (the per-element comprehension exists only to inject None)
            cols[f"sig_{j}"] = (
                [None if nulls[i] else int(mins[i]) for i in range(len(counts))]
                if any_null
                else mins
            )
        cols["sh"] = (
            [None if nulls[i] else sh[i] for i in range(len(counts))]
            if any_null
            else sh
        )
        return pd.DataFrame(cols)

    return minhash_features


def make_simhash_features_udf(
    bits: int, spread_params: list | None = None, shingle_n: int = 3,
    *, include_sh: bool = True,
):
    """tokens → struct(sim long, sh array<long>).

    spread_params=None reads bit j of the token hash directly (the
    16-bit arm); otherwise bit (j mod 31) of (A_k·h+B_k)%M with
    k = j div 31 (the 64-bit arm, dedup.simhash64_table).
    include_sh=False skips the shingle-set computation (bulk sketch
    tables that never verify Jaccard); the sh field is then null."""
    schema = StructType(
        [StructField("sim", LongType()), StructField("sh", ArrayType(LongType()))]
    )

    @F.pandas_udf(schema)
    def simhash_features(tokens: pd.Series) -> pd.DataFrame:
        flat, counts, nulls = _flatten(tokens)
        codes, uh = hash_tokens_factorized(flat)
        uhu = uh.astype(np.uint64)
        th = uhu if len(uh) == len(codes) else uhu[codes]
        if include_sh:
            H, starts, sizes = _shingle_occurrences(th, counts, shingle_n)
            sh = _sh_lists(H, starts, sizes)
        else:
            sh = [None] * len(counts)

        n = len(counts)
        sim = np.zeros(n, dtype=np.uint64)
        nonempty = np.flatnonzero(counts > 0)
        nuniq = len(uh)
        if len(nonempty) and len(th) and n * nuniq <= _DENSE_MAX_RATIO * len(th):
            # Zipf fast path: bit indicators per UNIQUE token, per-doc
            # bit counts as ONE doc×unique count matrix (bincount over
            # doc·nuniq+code) times the unique×bits indicator matrix —
            # float64 matmul is EXACT here (every operand and every
            # partial sum is an integer ≤ tokens-per-doc < 2^21 ≪ 2^53).
            # Identical counts to the per-occurrence reduceat: summing
            # bit_j over occurrences ≡ summing count(u)·bit_j(u) over
            # uniques. Gated on matrix work ≤ 8× the occurrence count,
            # so high-entropy batches (nuniq ~ |tokens|) keep the
            # occurrence-lane path below.
            # weighted bincount returns the float64 counts in one
            # allocation (exact: integers < 2^53)
            doc_idx = np.repeat(np.arange(n, dtype=np.int64), counts)
            cmat = np.bincount(
                doc_idx * nuniq + codes,
                weights=np.ones(len(codes)),
                minlength=n * nuniq,
            ).reshape(n, nuniq)
            if spread_params is None:
                spreads_u = [uhu]
            else:
                spreads_u = [
                    (np.uint64(a) * uhu + np.uint64(b)) % _M for a, b in spread_params
                ]
            B = np.empty((nuniq, bits), dtype=np.float64)
            for j in range(bits):
                d = spreads_u[j // 31] if spread_params is not None else uhu
                shift = np.uint64(j % 31 if spread_params is not None else j)
                B[:, j] = ((d >> shift) & np.uint64(1)).astype(np.float64)
            cnt = cmat @ B
            on = cnt * 2.0 > counts.astype(np.float64)[:, None]
            sim = (
                on.astype(np.uint64) << np.arange(bits, dtype=np.uint64)[None, :]
            ).sum(axis=1, dtype=np.uint64)
        elif len(nonempty) and len(th):
            tok_starts = np.zeros(n, dtype=np.int64)
            if n > 1:
                np.cumsum(counts[:-1], out=tok_starts[1:])
            seg = tok_starts[nonempty]
            nseg = counts[nonempty].astype(np.uint64)
            if spread_params is None:
                spreads = [th]
            else:
                spreads = [
                    (np.uint64(a) * th + np.uint64(b)) % _M for a, b in spread_params
                ]
            # pack 3 per-bit indicators into 21-bit lanes per reduceat
            # (22 reduceat passes for 64 bits instead of 64)
            for p in range((bits + 2) // 3):
                lanes = np.zeros(len(th), dtype=np.uint64)
                live = 0
                for s in range(3):
                    j = 3 * p + s
                    if j >= bits:
                        break
                    live += 1
                    d = spreads[j // 31] if spread_params is not None else th
                    bit = (d >> np.uint64(j % 31 if spread_params is not None else j)) & np.uint64(1)
                    lanes += bit << np.uint64(21 * s)
                csum = np.add.reduceat(lanes, seg)
                for s in range(live):
                    j = 3 * p + s
                    c = (csum >> np.uint64(21 * s)) & np.uint64((1 << 21) - 1)
                    on = (c * np.uint64(2)) > nseg
                    sim[nonempty[on]] |= np.uint64(1) << np.uint64(j)
        sim_i = sim.view(np.int64)
        if not nulls.any():
            return pd.DataFrame({"sim": sim_i, "sh": sh})
        return pd.DataFrame(
            {
                "sim": [None if nulls[i] else int(sim_i[i]) for i in range(n)],
                "sh": [None if nulls[i] else sh[i] for i in range(n)],
            }
        )

    return simhash_features
