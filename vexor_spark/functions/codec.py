"""Delta-gap + varint posting-list codec (SURVEY §2.10 item 4).

The reference stores postings as uncompressed SQLite rows
(vexor/cache.py:437-443); at web scale the index artifact must be
compressed, so posting arrays are encoded as:

    varint(n)                         — list length
    n × [varint(doc_id gap), varint(tf), varint(doc_len)]

with doc_id gaps relative to the previous doc_id (first entry stores
the absolute id). Unsigned LEB128 varints. Encoding happens once at
index-persist time (Arrow-batched pandas UDF over the already-sorted
arrays); decoding happens for ≤ MAX_QUERY_TERMS lists per query.

Block-max metadata (for WAND-style pruning) is computed alongside:
per fixed-size block of the sorted list, the maximum of the
idf-independent contribution kernel tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))
— multiplied by idf at query time it upper-bounds any posting in the
block (SURVEY §4.2).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from vexor_spark.constants import BM25_B, BM25_K1

POSTING_BLOCK_SIZE = 128


def varint_encode(value: int, out: bytearray) -> None:
    while True:
        byte = value & 0x7F
        value >>= 7
        if value:
            out.append(byte | 0x80)
        else:
            out.append(byte)
            return


def varint_decode(data: bytes, pos: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        byte = data[pos]
        pos += 1
        result |= (byte & 0x7F) << shift
        if not byte & 0x80:
            return result, pos
        shift += 7


def encode_posting_list(postings: list) -> bytes:
    """postings: sorted [(doc_id, tf, doc_len), ...] or dicts."""
    out = bytearray()
    varint_encode(len(postings), out)
    prev = 0
    for p in postings:
        if isinstance(p, dict):
            doc_id, tf, doc_len = p["doc_id"], p["tf"], p["doc_len"]
        else:
            doc_id, tf, doc_len = p[0], p[1], p[2]
        varint_encode(doc_id - prev, out)
        varint_encode(tf, out)
        varint_encode(doc_len, out)
        prev = doc_id
    return bytes(out)


def decode_posting_list(data: bytes) -> list[tuple[int, int, int]]:
    n, pos = varint_decode(data, 0)
    out = []
    doc_id = 0
    for _ in range(n):
        gap, pos = varint_decode(data, pos)
        tf, pos = varint_decode(data, pos)
        doc_len, pos = varint_decode(data, pos)
        doc_id += gap
        out.append((doc_id, tf, doc_len))
    return out


def live_postings(ids, layer, tombstones):
    """Keep-mask of the layered-read liveness rule, or None when every
    posting lives: a posting written at layer L (0 = base) is dead iff
    its doc's highest tombstoning layer tmax > L. `tombstones` is
    (sorted doc_ids, tmax) — PersistedIndex._tombstone_arrays. Shared by
    the executor decode (explode_blocks_rows) and the driver decode."""
    import numpy as np

    ids_sorted, tmax = tombstones
    if not len(ids_sorted) or not len(ids):
        return None
    pos = np.minimum(np.searchsorted(ids_sorted, ids), len(ids_sorted) - 1)
    return ~((ids_sorted[pos] == ids) & (tmax[pos] > layer))


def explode_blocks_rows(blocks_df, *, tomb_bc=None, keep_layer: bool = False):
    """blocks(term, df, n, blob[, _layer]) → (term, df, doc_id, tf,
    doc_len[, _layer]) posting ROWS in one mapInPandas kernel: the
    whole Arrow batch's blobs decode through the vectorized varint
    pass (decode_blocks_np) and term/df replicate by np.repeat —
    replacing a per-blob decode UDF + JVM explode, which built a Python
    dict PER POSTING inside the UDF, serialized them as Arrow
    array<struct>, and re-exploded rows JVM-side (round-7; guide §4.2:
    keep batch work in vectorized native code).

    tomb_bc (a Spark broadcast of (sorted doc_ids, tmax arrays))
    applies the layered-read liveness rule inside the kernel — a
    posting written at layer L survives iff its doc has no tombstone
    or tmax ≤ L, so dead postings are dropped inside the Arrow batch
    with no tombstone join. keep_layer=True carries _layer through (the
    join-fallback path when the tombstone volume exceeds the driver
    budget)."""
    import numpy as np

    need_layer = tomb_bc is not None or keep_layer
    schema = "term string, df double, doc_id long, tf double, doc_len double"
    if keep_layer:
        schema += ", _layer int"
    cols = ["term", "df", "n", "blob"] + (["_layer"] if need_layer else [])

    def kern(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ns = pdf["n"].to_numpy().astype(np.int64)
            ids, tfs, dls = decode_blocks_np(list(pdf["blob"]), ns.tolist())
            term = np.repeat(pdf["term"].to_numpy(), ns)
            dfv = np.repeat(pdf["df"].to_numpy().astype(np.float64), ns)
            layer = (
                np.repeat(pdf["_layer"].to_numpy().astype(np.int64), ns)
                if need_layer
                else None
            )
            if tomb_bc is not None:
                keep = live_postings(ids, layer, tomb_bc.value)
                if keep is not None:
                    ids, tfs, dls = ids[keep], tfs[keep], dls[keep]
                    term, dfv = term[keep], dfv[keep]
                    if keep_layer:
                        layer = layer[keep]
            out = {
                "term": term,
                "df": dfv,
                "doc_id": ids,
                "tf": tfs.astype(np.float64),
                "doc_len": dls.astype(np.float64),
            }
            if keep_layer:
                out["_layer"] = layer.astype(np.int32)
            yield pd.DataFrame(out)

    return blocks_df.select(*cols).mapInPandas(kern, schema)


def block_doc_ids_rows(blocks_df):
    """blocks(n, blob) → (doc_id) rows — the candidate-generation
    decode (wand.py) without per-posting structs or a JVM explode."""
    import numpy as np

    def kern(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ns = pdf["n"].to_numpy().astype(np.int64)
            ids, _tfs, _dls = decode_blocks_np(list(pdf["blob"]), ns.tolist())
            yield pd.DataFrame({"doc_id": ids})

    return blocks_df.select("n", "blob").mapInPandas(kern, "doc_id long")


def decode_posting_list_np(blob: bytes):
    """Vectorized varint decode: (doc_ids, tfs, doc_lens) int64 numpy
    arrays. ~50× the pure-Python decoder; used by the driver-side query
    path. Falls back to the scalar decoder for varints longer than 8
    bytes (values ≥ 2^56 — never produced by this engine's ids/tfs)."""
    import numpy as np

    a = np.frombuffer(blob, dtype=np.uint8).astype(np.int64)
    ends = np.flatnonzero((a & 0x80) == 0)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    max_len = int((ends - starts).max()) + 1 if len(ends) else 1
    if max_len > 8:
        ids, tfs, dls = [], [], []
        for d, t, dl in decode_posting_list(blob):
            ids.append(d); tfs.append(t); dls.append(dl)
        return (np.array(ids, np.int64), np.array(tfs, np.int64), np.array(dls, np.int64))
    idx = starts[:, None] + np.arange(max_len)[None, :]
    valid = idx <= ends[:, None]
    np.clip(idx, 0, len(a) - 1, out=idx)
    weights = (np.int64(1) << (7 * np.arange(max_len, dtype=np.int64)))[None, :]
    vals = ((a[idx] & 0x7F) * weights * valid).sum(axis=1)
    n = int(vals[0])
    rest = vals[1 : 1 + 3 * n]
    gaps = rest[0::3]
    tfs = rest[1::3]
    dls = rest[2::3]
    return np.cumsum(gaps), tfs, dls


def decode_blocks_np(blobs: list[bytes], counts: list[int]):
    """Batch-vectorized decode of MANY block blobs in one numpy pass:
    returns (doc_ids, tfs, doc_lens) concatenated across blocks, with
    the per-block delta-gap cumsum handled segment-wise. One ~O(bytes)
    pass regardless of block count — the per-block-array overhead of
    decode_posting_list_np made 8k-block reads scoring-bound."""
    import numpy as np

    if not blobs:
        e = np.array([], np.int64)
        return e, e, e
    buf = b"".join(blobs)
    a = np.frombuffer(buf, dtype=np.uint8).astype(np.int64)
    ends = np.flatnonzero((a & 0x80) == 0)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lens = ends - starts + 1
    if len(lens) and int(lens.max()) > 8:  # ≥2^56: per-blob fallback (never ours)
        ids_l, tf_l, dl_l = [], [], []
        for blob in blobs:
            i, t, d = decode_posting_list_np(blob)
            ids_l.append(i); tf_l.append(t); dl_l.append(d)
        return (np.concatenate(ids_l), np.concatenate(tf_l), np.concatenate(dl_l))
    # linear varint assembly: each byte contributes (b & 0x7F) << 7·pos
    # where pos is its offset inside its own varint; reduceat sums each
    # varint's byte contributions. O(bytes) with no 2D gather matrix
    # (the former (varints × max_len) broadcast was the serving-path
    # p95 hot spot — ~3× slower on high-df lists).
    pos = np.arange(len(a), dtype=np.int64) - np.repeat(starts, lens)
    vals = np.add.reduceat((a & 0x7F) << (7 * pos), starts)

    ns = np.asarray(counts, dtype=np.int64)
    if int(ns.sum()) == 0:
        e = np.array([], np.int64)
        return e, e, e
    per_blob_vals = 1 + 3 * ns  # [count, (gap,tf,dl)*n]
    blob_val_starts = np.concatenate(([0], np.cumsum(per_blob_vals)[:-1]))
    # drop the count value of each blob, keep triples
    keep = np.ones(len(vals), dtype=bool)
    keep[blob_val_starts] = False
    triples = vals[keep].reshape(-1, 3)
    gaps, tfs, dls = triples[:, 0], triples[:, 1], triples[:, 2]
    # segment-wise cumsum: global cumsum minus the cumsum at each
    # segment's start (first gap of a block is the absolute doc id)
    cs = np.cumsum(gaps)
    seg_starts = np.concatenate(([0], np.cumsum(ns)[:-1]))
    base = np.where(seg_starts > 0, cs[seg_starts - 1], 0)
    doc_ids = cs - np.repeat(base, ns)
    return doc_ids, tfs, dls


def tf_norm_kernel(tf: float, doc_len: float, avg_doc_len: float) -> float:
    """idf-independent BM25 kernel: tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))."""
    return tf * (BM25_K1 + 1.0) / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * doc_len / avg_doc_len))


BLOCK_STRUCT = StructType(
    [
        StructField("block_id", IntegerType()),
        StructField("n", IntegerType()),
        StructField("block_first", LongType()),
        StructField("block_last", LongType()),
        StructField("block_ub", DoubleType()),
        StructField("blob", BinaryType()),
    ]
)


def make_encode_blocks_udf(avg_doc_len: float, block_size: int = POSTING_BLOCK_SIZE):
    """array<posting> → array<block struct>: the sorted list is cut into
    fixed-size blocks, each independently delta-gap+varint encoded with
    its doc-id range and max contribution kernel — the unit of block-max
    pruning (a pruned block is never even decoded)."""

    @F.pandas_udf(ArrayType(BLOCK_STRUCT))
    def encode_blocks(postings: pd.Series) -> pd.Series:
        def one(plist) -> list[dict]:
            out = []
            for bi in range(0, len(plist), block_size):
                block = plist[bi : bi + block_size]
                out.append(
                    {
                        "block_id": bi // block_size,
                        "n": len(block),
                        "block_first": int(block[0]["doc_id"]),
                        "block_last": int(block[-1]["doc_id"]),
                        "block_ub": max(
                            tf_norm_kernel(float(p["tf"]), float(p["doc_len"]), avg_doc_len)
                            for p in block
                        ),
                        "blob": encode_posting_list(block),
                    }
                )
            return out

        return postings.map(one)

    return encode_blocks


def max_kernel_col(avg_doc_len: float) -> Column:
    """Per-term global max of the contribution kernel, computed JVM-side
    over the postings array (used for max-score pruning bounds)."""
    return F.array_max(
        F.transform(
            F.col("postings"),
            lambda p: p["tf"].cast("double")
            * F.lit(BM25_K1 + 1.0)
            / (
                p["tf"].cast("double")
                + F.lit(BM25_K1)
                * (
                    F.lit(1.0 - BM25_B)
                    + F.lit(BM25_B) * p["doc_len"].cast("double") / F.lit(avg_doc_len)
                )
            ),
        )
    )
