"""Persisted index: write → load → both query paths rank-identical to
the oracle; partition pruning actually prunes."""

from __future__ import annotations

import json

import pytest

from vexor_spark.index.build import build_index
from vexor_spark.index.storage import PersistedIndex, write_index
from vexor_spark.oracle import pyref
from vexor_spark.sources.corpus import generate_pages_df, generate_pages_local, query_suite

N_PAGES = 80


@pytest.fixture(scope="module")
def persisted(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("index")
    pages = generate_pages_df(spark, N_PAGES, edges=True, partitions=4)
    index = build_index(pages, salt_partitions=2, term_buckets=8)
    write_index(index, d)
    index.docs.unpersist()
    index.postings.unpersist()
    local = generate_pages_local(N_PAGES, edges=True)
    oracle = pyref.build_corpus_index([(r["url"], r["html"]) for r in local])
    return PersistedIndex(spark, d), oracle, d


def test_meta(persisted):
    idx, oracle, d = persisted
    meta = json.loads((d / "meta.json").read_text())
    assert meta["doc_count"] == oracle["doc_count"]
    assert meta["avg_doc_len"] == pytest.approx(oracle["avg_doc_len"], rel=1e-12)
    assert meta["term_buckets"] == 8
    # partitioned layout on disk
    buckets = sorted(p.name for p in (d / "postings").glob("term_bucket=*"))
    assert buckets and all(b.startswith("term_bucket=") for b in buckets)


@pytest.mark.parametrize("qi", range(0, 30, 3))
def test_both_query_paths_rank_identical(persisted, qi):
    idx, oracle, _ = persisted
    q = query_suite(N_PAGES)[qi]["query"]
    want = pyref.search(oracle, q, k=10)

    got_local = idx.search_local(q, k=10)
    assert [(d, ) for _, d, _ in got_local] == [(d,) for d, _ in want], q
    for (_, gd, gs), (wd, ws) in zip(got_local, want):
        assert gs == pytest.approx(ws, rel=1e-9)

    # pruned local path (default) == naive local decode-everything path
    # (scores sum in different term order → approx, ids exact)
    got_naive = idx.search_local(q, k=10, prune=False)
    assert [d for _, d, _ in got_local] == [d for _, d, _ in got_naive], q
    for (_, _, gs), (_, _, ns) in zip(got_local, got_naive):
        assert gs == pytest.approx(ns, rel=1e-12)

    got_dist = [(r["doc_id"], r["score"]) for r in idx.search_distributed(q, k=10).collect()]
    assert [d for d, _ in got_dist] == [d for d, _ in want], q
    for (gd, gs), (wd, ws) in zip(got_dist, want):
        assert gs == pytest.approx(ws, rel=1e-9)


def test_empty_and_cjk_queries(persisted):
    idx, _, _ = persisted
    assert idx.search_local("搜索引擎", k=10) == []
    assert idx.search_local("zzqqxx_no_such_term", k=10) == []
    assert idx.search_distributed("搜索引擎", k=10).count() == 0


def test_partition_pruning_in_plan(persisted):
    idx, _, _ = persisted
    plan = (
        idx._matched_blocks(["spark", "uid_000042"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # The parquet scan must carry a PartitionFilters entry on term_bucket.
    assert "term_bucket" in plan
    assert "PartitionFilters: []" not in plan


@pytest.mark.parametrize("qi", [0, 7, 13, 22])
def test_pruned_scoring_exact(persisted, qi):
    """Block-max pruned distributed scoring == unpruned == oracle."""
    idx, oracle, _ = persisted
    q = query_suite(N_PAGES)[qi]["query"]
    want = pyref.search(oracle, q, k=10)
    got = [
        (r["doc_id"], r["score"])
        for r in idx.search_distributed(q, k=10, prune=True).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in want], q
    for (gd, gs), (wd, ws) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-9)


def test_write_strategies_identical(spark, tmp_path):
    """The streaming sort-based writer and the array-encode writer must
    produce byte-identical postings blocks and equal dictionaries."""
    from vexor_spark.index.storage import write_index

    pages = generate_pages_df(spark, 50, edges=True, partitions=3)
    index = build_index(pages, salt_partitions=2, term_buckets=8)
    write_index(index, tmp_path / "a", strategy="sorted")
    write_index(index, tmp_path / "b", strategy="arrays")
    index.docs.unpersist(); index.postings.unpersist()

    def load(d):
        rows = spark.read.parquet(str(d / "postings")).collect()
        return {
            (r["term"], r["block_id"]): (
                r["df"], r["n"], r["block_first"], r["block_last"],
                round(r["block_ub"], 12), bytes(r["blob"]),
            )
            for r in rows
        }

    a, b = load(tmp_path / "a"), load(tmp_path / "b")
    assert a == b
    da = {r["term"]: (r["df"], round(r["max_kernel"], 12))
          for r in spark.read.parquet(str(tmp_path / "a" / "dict")).collect()}
    db = {r["term"]: (r["df"], round(r["max_kernel"], 12))
          for r in spark.read.parquet(str(tmp_path / "b" / "dict")).collect()}
    assert da == db


def test_build_and_write_equals_two_step(spark, tmp_path):
    """The fused no-arrays artifact builder == build_index + write_index."""
    from vexor_spark.index.storage import build_and_write_index, write_index

    pages = generate_pages_df(spark, 50, edges=True, partitions=3)
    summary = build_and_write_index(pages, tmp_path / "fused", term_buckets=8)
    index = build_index(pages, salt_partitions=2, term_buckets=8)
    write_index(index, tmp_path / "twostep", strategy="arrays")
    assert summary["docs"] == index.doc_count
    index.docs.unpersist(); index.postings.unpersist()

    def load(d):
        rows = spark.read.parquet(str(d / "postings")).collect()
        return {
            (r["term"], r["block_id"]): (
                r["df"], r["n"], r["block_first"], r["block_last"], bytes(r["blob"])
            )
            for r in rows
        }

    assert load(tmp_path / "fused") == load(tmp_path / "twostep")
    pidx = PersistedIndex(spark, tmp_path / "fused")
    hits = pidx.search_local("uid_000042", k=3)
    assert hits and hits[0][1] >= 0


def test_decorated_results(persisted):
    idx, oracle, _ = persisted
    ranked = idx.search_distributed("uid_000042", k=5)
    rows = idx.decorate(ranked).collect()
    assert rows and rows[0]["url"].endswith("000042.html")


def test_search_local_term_cache(spark, tmp_path):
    """Driver-side LRU of per-term block rows (reference cache.py
    analog): warm repeats skip parquet, results identical; absent terms
    negative-cache; capacity bounded."""
    from vexor_spark.index.storage import PersistedIndex, build_and_write_index
    from vexor_spark.sources.corpus import generate_pages_df

    pages = generate_pages_df(spark, 80, edges=True, partitions=4)
    build_and_write_index(pages, tmp_path / "idx", term_buckets=8)
    pi = PersistedIndex(spark, tmp_path / "idx")
    cold = pi.search_local("spark merge window", k=10)
    assert {"spark", "merge", "window"} <= set(pi._term_cache)
    warm = pi.search_local("spark merge window", k=10)
    assert warm == cold
    assert pi.search_local("zzzabsenttoken", k=5) == []
    assert pi._term_cache["zzzabsenttoken"] == ([], 0)
    pi.term_cache_max = 4
    pi.search_local("hash join sort customer events", k=5)
    assert len(pi._term_cache) <= 4


def test_search_distributed_multi_rank_identity(spark, tmp_path):
    """One-job batch serving must be rank-identical to per-query
    search_distributed on every query (shared scan + shared decode
    change the plan, not the math)."""
    from vexor_spark.index.storage import PersistedIndex, build_and_write_index
    from vexor_spark.sources.corpus import generate_pages_df, query_suite

    pages = generate_pages_df(spark, 150, edges=True, partitions=4)
    build_and_write_index(pages, tmp_path / "multi", term_buckets=8)
    pi = PersistedIndex(spark, tmp_path / "multi")

    queries = {f"q{i}": q["query"] for i, q in enumerate(query_suite(150)[:8])}
    batch = pi.search_distributed_multi(queries, k=10).collect()
    by_q: dict = {}
    for r in batch:
        by_q.setdefault(r["query"], []).append(
            (int(r["rank"]), int(r["doc_id"]), round(float(r["score"]), 6))
        )
    for name, q in queries.items():
        single = [
            (int(r["rank"]), int(r["doc_id"]), round(float(r["score"]), 6))
            for r in pi.search_distributed(q, k=10).collect()
        ]
        got = sorted(by_q.get(name, []))
        assert got == sorted(single), name

    # empty batch / no-term queries degrade cleanly
    assert pi.search_distributed_multi({}, k=5).count() == 0
    assert pi.search_distributed_multi({"e": "!!!"}, k=5).count() == 0


@pytest.mark.usefixtures("executor_route")
def test_pruning_driver_side_skips(persisted, monkeypatch):
    """Round-5: the driver-side engagement checks make prune=True free
    when it cannot win, and the θ pass costs no Spark job. (a) all
    query terms rarer than k → θ skipped; (b) balanced multi-term
    common query → no block can fail the bound for any achievable θ →
    skipped; (c) unprunable posting volume above the candidate cap →
    skipped before paying the candidate pass (cap shrunk via
    monkeypatch — at 2M this is the anchored-pair shape); (d) a single
    common term engages: θ comes from ≤2 driver-decoded blocks and the
    candidate pass drops the list's deep blocks. Engaged path stays
    rank-identical to unpruned (plus test_pruned_scoring_exact)."""
    import vexor_spark.index.wand as wand

    idx, _, _ = persisted

    m: dict = {}
    idx.search_distributed("uid_000017", k=10, prune=True, metrics=m).collect()
    assert m.get("theta_skipped") is True and m.get("pruned") is False

    # (b)/(c) pin the CLASSIC (walk-θ) skip rules, so the round-6 seed
    # refinement is disabled for them — with it, both shapes engage
    # (covered by test_seed_theta_engages_balanced_common below).
    monkeypatch.setattr(wand, "_theta_seed", lambda *a, **kw: 0.0)
    m = {}
    idx.search_distributed(
        "shuffle stage task memory", k=10, prune=True, metrics=m
    ).collect()
    assert m.get("bound_skipped") is True and m.get("pruned") is False

    # 'news' is a rare high-ub anchor; 'merge' is in ~80% of docs, and
    # rest_ub_merge = ub_news ≥ θ makes merge's whole list unfailable.
    # With the cap shrunk below df(merge), the volume rule must bail
    # before the candidate pass.
    monkeypatch.setattr(wand, "MAX_CANDIDATES", 100)
    m = {}
    idx.search_distributed("news merge", k=10, prune=True, metrics=m).collect()
    assert m.get("volume_skipped") is True and m.get("pruned") is False, m
    monkeypatch.setattr(wand, "MAX_CANDIDATES", 200_000)
    monkeypatch.undo()

    m = {}
    a = idx.search_distributed("merge", k=10, prune=True, metrics=m).collect()
    assert m.get("pruned") is True and m.get("theta", 0) > 0, m
    b = idx.search_distributed("merge", k=10, prune=False).collect()
    assert [(r["rank"], r["doc_id"]) for r in a] == [
        (r["rank"], r["doc_id"]) for r in b
    ]


@pytest.mark.usefixtures("executor_route")
def test_seed_theta_engages_balanced_common(persisted):
    """Round-6 (verdict item 7): the seed-refined θ — exact driver-side
    totals of a seed pool — separates the balanced-common shape where
    the single-contribution walk provably cannot (every rest_ub ≥ any
    walk θ). The query must ENGAGE with θ from the seed pass, stay
    rank-identical to unpruned, and the seed θ must dominate the walk
    θ whenever both exist (totals ≥ single contributions)."""
    idx, _, _ = persisted

    m: dict = {}
    a = idx.search_distributed(
        "shuffle stage task memory", k=10, prune=True, metrics=m
    ).collect()
    assert m.get("pruned") is True, m
    assert m.get("theta_seed", 0.0) > 0.0 and m.get("theta_walk") == 0.0, m
    b = idx.search_distributed("shuffle stage task memory", k=10, prune=False).collect()
    assert [(r["rank"], r["doc_id"], round(float(r["score"]), 9)) for r in a] == [
        (r["rank"], r["doc_id"], round(float(r["score"]), 9)) for r in b
    ]

    # anchored pair: stage 1 (the walk) engages on its own, so the
    # seed rescue never runs — prune stays free where round 5 already
    # won — and ranks stay identical.
    m = {}
    a = idx.search_distributed("news merge", k=10, prune=True, metrics=m).collect()
    assert m.get("pruned") is True, m
    assert m.get("theta_walk", 0.0) > 0.0 and m.get("theta_seed") == 0.0, m
    b = idx.search_distributed("news merge", k=10, prune=False).collect()
    assert [(r["rank"], r["doc_id"]) for r in a] == [
        (r["rank"], r["doc_id"]) for r in b
    ]


@pytest.mark.usefixtures("executor_route")
def test_seed_precheck_skips_uid_anchored_phrase(persisted):
    """Round-6 follow-up (measured at 2M): a uid-anchored multi-term
    query is PROVABLY unprunable — the rare term's ub rides in every
    common term's rest_ub while the pigeonhole cap bounds any valid θ
    by the common terms' ub sum, which equals min rest_ub — so the
    dict-only precheck must skip the driver seed probe entirely
    (wand._seed_theta_cap); without it the phrase class paid +40%
    latency at 2M for zero engagement. Results stay identical to
    unpruned (fallback scoring)."""
    idx, _, _ = persisted

    m: dict = {}
    a = idx.search_distributed(
        "shuffle stage task memory uid_000017", k=10, prune=True, metrics=m
    ).collect()
    assert m.get("seed_precheck_skipped") is True, m
    assert m.get("theta_seed") == 0.0 and m.get("pruned") is False, m
    assert m.get("seed_cap", -1.0) >= 0.0, m
    b = idx.search_distributed(
        "shuffle stage task memory uid_000017", k=10, prune=False
    ).collect()
    assert [(r["rank"], r["doc_id"], round(float(r["score"]), 9)) for r in a] == [
        (r["rank"], r["doc_id"], round(float(r["score"]), 9)) for r in b
    ]


def test_multi_pruned_rank_identity(persisted):
    """Round-6: pruning inside the batch path (wand.pruned_multi) —
    per-query results identical to the unpruned shared scan, for a mix
    of prunable and skip-rule query shapes."""
    idx, _, _ = persisted
    queries = {
        "single": "hash",                       # prunable single term
        "pair": "spark merge",                  # dominated/balanced pair
        "uid": "uid_000017",                    # θ-skip shape (df < k)
        "balanced": "shuffle stage task memory",  # bound-skip shape
    }
    m = {}
    got = {
        (r["query"], r["rank"]): (r["doc_id"], round(float(r["score"]), 9))
        for r in idx.search_distributed_multi(
            queries, k=10, prune=True, metrics=m
        ).collect()
    }
    want = {
        (r["query"], r["rank"]): (r["doc_id"], round(float(r["score"]), 9))
        for r in idx.search_distributed_multi(queries, k=10, prune=False).collect()
    }
    assert got == want
    assert m.get("multi_pruned_queries", 0) >= 1, m
    assert m["blocks_decoded"] <= m["blocks_total"], m


def test_multi_pruned_declines_without_private_terms(persisted):
    """Round-6 free-or-winning for the batch: blocks leave the shared
    scan only via terms NO unpruned query uses, so when every engaged
    query's terms are shared with an unpruned query the reduction is
    provably zero and pruned_multi must decline (dict-only, free) —
    measured 151 s pruned vs 78 s unpruned at 2M/8 segs without this."""
    from vexor_spark.functions.tokenize import prepare_query_terms
    from vexor_spark.index.wand import pruned_multi

    idx, _, _ = persisted
    queries = {
        "single": "hash",                # engages on its own
        "anchored": "hash uid_000017",   # unprunable, shares 'hash'
    }
    qterms = {n: prepare_query_terms(q) for n, q in queries.items()}
    assert pruned_multi(idx, qterms, 10) is None
    # and the serving wrapper still returns identical results via the
    # fallback shared scan
    got = {
        (r["query"], r["rank"]): (r["doc_id"], round(float(r["score"]), 9))
        for r in idx.search_distributed_multi(queries, k=10, prune=True).collect()
    }
    want = {
        (r["query"], r["rank"]): (r["doc_id"], round(float(r["score"]), 9))
        for r in idx.search_distributed_multi(queries, k=10, prune=False).collect()
    }
    assert got == want
