"""Unified update_index (index/maintenance.py): the five-route table
— no index→full build, no change→noop, change ratio > 0.5→full rebuild
(the reference's gate, vexor/services/index_service.py:29), a delta
that would exceed max_segments→compact, otherwise→delta — each route's
result exact vs a from-scratch rebuild, removals and avg-doc-len drift
through the layered view, and budget-triggered auto-compaction folding
segments back into the base."""

from __future__ import annotations

import datetime as dt
import json

import pytest

from vexor_spark.index import delta
from vexor_spark.index.delta import SegmentedIndex, load_manifest
from vexor_spark.index.maintenance import compaction_due, update_index
from vexor_spark.index.storage import (
    PersistedIndex,
    _pending_path,
    build_and_write_index,
)
from vexor_spark.sources.corpus import PAGES_SCHEMA

N_PAGES = 48
TERM_BUCKETS = 64


def _page(i: int, body: str) -> dict:
    return {
        "url": f"https://ex.org/p/{i:04d}.html",
        "warc_ts": dt.datetime(2025, 1, 1) + dt.timedelta(seconds=i),
        "html": body.encode(),
        "text": body,
        "lang": "en",
    }


def _diverse_body(i: int) -> str:
    return f"alpha{i} beta{i} gamma{i} delta{i} common words"


def _corpus(mutations=None, drop=frozenset(), bodies=_diverse_body):
    mutations = mutations or {}
    return [
        _page(i, mutations.get(i, bodies(i)))
        for i in range(N_PAGES)
        if i not in drop
    ]


def _df(spark, recs):
    return spark.createDataFrame(recs, PAGES_SCHEMA)


def _scores(spark, searcher, docs_df, query, k=1000):
    ranked = searcher.search_distributed(query, k=k)
    rows = (
        ranked.join(docs_df.select("doc_id", "url"), "doc_id")
        .select("url", "score")
        .collect()
    )
    return {r["url"]: round(float(r["score"]), 6) for r in rows}


def _assert_view_exact(spark, tmp_path, idx, recs, queries, tag):
    seg = SegmentedIndex(spark, idx)
    view = seg.docs_view()
    rb_dir = tmp_path / f"rb_{tag}"
    build_and_write_index(_df(spark, recs), rb_dir, term_buckets=TERM_BUCKETS)
    rb = PersistedIndex(spark, rb_dir)
    rb_docs = spark.read.parquet(str(rb_dir / "docs"))
    assert seg.doc_count == rb.doc_count
    for q in queries:
        assert _scores(spark, seg, view, q) == _scores(spark, rb, rb_docs, q), (
            tag, q,
        )


def test_update_index_routes_by_shape(spark, tmp_path):
    """full_build → noop → delta (a one-page edit, then a page removal,
    over the live layer, past max_segments with auto_compact off) →
    full_rebuild, each step rank-identical to a from-scratch rebuild of
    the current corpus."""
    work, idx = tmp_path / "w", tmp_path / "i"

    s0 = update_index(_df(spark, _corpus()), work, idx, term_buckets=TERM_BUCKETS)
    assert s0["route"] == "full_build" and s0["route_reason"] == "no_existing_index"

    s_no = update_index(_df(spark, _corpus()), work, idx)
    assert s_no["route"] == "noop" and s_no["route_reason"] == "no_change"
    assert s_no["compaction"] is None

    # tombstone_ratio=1.0 keeps the segments alive for inspection —
    # test_auto_compaction_budget covers the budget itself.
    cur = {3: "alpha3 edited body tricky common words"}
    s1 = update_index(
        _df(spark, _corpus(mutations=cur)), work, idx, tombstone_ratio=1.0
    )
    assert s1["route"] == "delta", s1
    assert s1["route_reason"].startswith("change_ratio") and "<=" in s1["route_reason"]
    assert len(load_manifest(spark, idx)["segments"]) == 1
    _assert_view_exact(
        spark, tmp_path, idx, _corpus(mutations=cur),
        ["common", "tricky", "alpha3 edited"], "edit",
    )

    # auto_compact=False keeps the delta route past the layer budget
    s2 = update_index(
        _df(spark, _corpus(mutations=cur, drop={7})), work, idx,
        max_segments=1, auto_compact=False,
    )
    assert s2["route"] == "delta", s2
    assert s2["route_reason"].startswith("change_ratio") and "<=" in s2["route_reason"]
    assert s2["compaction"] is None
    assert len(load_manifest(spark, idx)["segments"]) == 2
    _assert_view_exact(
        spark, tmp_path, idx, _corpus(mutations=cur, drop={7}),
        ["common", "tricky", "alpha7 beta7"], "removal",
    )

    # >50% of input buckets change → full rebuild, segments cleared.
    cur4 = {i: f"rewrite{i} everything{i} common words" for i in range(N_PAGES)}
    s4 = update_index(_df(spark, _corpus(mutations=cur4)), work, idx)
    assert s4["route"] == "full_rebuild", s4
    assert not (idx / "segments").exists()
    assert not load_manifest(spark, idx)["segments"]
    _assert_view_exact(
        spark, tmp_path, idx, _corpus(mutations=cur4),
        ["common", "rewrite7 everything7", "tricky"], "rebuild",
    )


def test_update_index_new_first_url_routes_to_delta(spark, tmp_path):
    """A new url sorting BEFORE survivors would shift every dense doc id
    of a rebuild; delta keeps surviving ids and allocates fresh ones,
    so it routes like any other small change."""
    work, idx = tmp_path / "w2", tmp_path / "i2"
    bodies = lambda i: "shared tiny vocab body"  # noqa: E731
    update_index(_df(spark, _corpus(bodies=bodies)), work, idx, term_buckets=TERM_BUCKETS)
    recs = _corpus(bodies=bodies) + [
        {
            "url": "https://ex.org/a/0000.html",  # sorts before p/
            "warc_ts": dt.datetime(2025, 2, 1),
            "html": b"shared tiny vocab body",
            "text": "shared tiny vocab body",
            "lang": "en",
        }
    ]
    s = update_index(_df(spark, recs), work, idx)
    assert s["route"] == "delta", s
    assert s["route_reason"].startswith("change_ratio") and "<=" in s["route_reason"]
    _assert_view_exact(spark, tmp_path, idx, recs, ["shared", "vocab"], "shift")


def _records(work, stage):
    path = work / "metrics.jsonl"
    return [r for r in map(json.loads, path.read_text().splitlines())
            if r["stage"] == stage]


def _assert_bench_keys(summary):
    """The keys perfbench's update workload reads on every route it
    takes (delta set-up cycles, compact timed cycles)."""
    assert {"route", "route_reason", "compaction"} <= summary.keys(), summary
    if summary["route"] == "delta":
        assert {"secs", "docs_written", "docs_tombstoned"} <= summary.keys()
    if summary["compaction"] is not None:
        assert isinstance(summary["compaction"]["secs"], float)


def test_auto_compaction_budget(spark, tmp_path, monkeypatch):
    work, idx = tmp_path / "w3", tmp_path / "i3"
    update_index(_df(spark, _corpus()), work, idx, term_buckets=TERM_BUCKETS)

    def diffuse(tag):
        return {
            i: f"{tag}{i} spray{tag}{i} wide{tag}{i} common words"
            for i in range(0, N_PAGES, 4)
        }

    # max_segments=1: first delta stays; the second would exceed the
    # budget, so it compacts everything into the base without
    # writing the delta.
    s1 = update_index(
        _df(spark, _corpus(mutations=diffuse("aa"))), work, idx,
        max_segments=1, tombstone_ratio=1.0,
    )
    assert s1["route"] == "delta" and s1["compaction"] is None
    _assert_bench_keys(s1)
    n_deltas = len(_records(work, "delta_update"))
    s2 = update_index(
        _df(spark, _corpus(mutations=diffuse("bb"))), work, idx,
        max_segments=1, tombstone_ratio=1.0,
    )
    assert s2["route"] == "compact", s2
    assert s2["route_reason"].startswith("change_ratio ")
    assert s2["route_reason"].endswith(" <= 0.5; segments 2 > 1"), s2
    assert s2["compaction"]["trigger"].startswith("segments")
    assert s2["compaction"]["segments_folded"] == 1
    _assert_bench_keys(s2)
    assert len(_records(work, "delta_update")) == n_deltas
    last = _records(work, "update_index")[-1]
    assert (last["route"], last["route_reason"]) == (s2["route"], s2["route_reason"])
    assert not (idx / "segments").exists()
    _assert_view_exact(
        spark, tmp_path, idx, _corpus(mutations=diffuse("bb")),
        ["common", "sprayaa2"], "compacted",
    )

    # crash in the compaction's merge: the pending marker written by
    # stage 1 makes the retry (same pages, no stale bucket left) take
    # the compact route again.
    update_index(
        _df(spark, _corpus(mutations=diffuse("cc"))), work, idx,
        max_segments=1, tombstone_ratio=1.0,
    )
    real_merge = delta.full_merge

    def crash_once(*args, **kwargs):
        monkeypatch.setattr(delta, "full_merge", real_merge)
        raise RuntimeError("crash in full_merge")

    monkeypatch.setattr(delta, "full_merge", crash_once)
    recs = _corpus(mutations=diffuse("dd"))
    with pytest.raises(RuntimeError, match="crash in full_merge"):
        update_index(_df(spark, recs), work, idx, max_segments=1)
    assert _pending_path(idx).exists()
    s4 = update_index(_df(spark, recs), work, idx, max_segments=1)
    assert _records(work, "chunks")[-1]["buckets_built"] == 0
    assert s4["route"] == "compact", s4
    assert s4["compaction"]["trigger"] == "segments 2 > 1"
    assert not _pending_path(idx).exists()
    assert not (idx / "segments").exists()
    _assert_view_exact(
        spark, tmp_path, idx, recs, ["common", "spraydd4", "spraycc4"], "resumed",
    )

    # tombstone budget fires independently of layer count
    man = {"segments": [{"n_new": 10, "n_removed": 30}], "base_doc_count": 100}
    assert compaction_due(man, max_segments=4, tombstone_ratio=0.2) is not None
    man2 = {"segments": [{"n_new": 10, "n_removed": 5}], "base_doc_count": 100}
    assert compaction_due(man2, max_segments=4, tombstone_ratio=0.2) is None


def test_noop_reports_live_view_docs(spark, tmp_path):
    """Round-5 ADVICE: the noop route must report the LIVE view's doc
    count (base + segment deltas), not the pre-segment base meta."""
    work, idx = tmp_path / "w_noop", tmp_path / "i_noop"
    update_index(_df(spark, _corpus()), work, idx, term_buckets=TERM_BUCKETS)
    cur = _corpus(drop={5})  # removes a page → live count < base count
    s2 = update_index(_df(spark, cur), work, idx, term_buckets=TERM_BUCKETS)
    assert s2["route"] == "delta", s2
    s3 = update_index(_df(spark, cur), work, idx, term_buckets=TERM_BUCKETS)
    assert s3["route"] == "noop"
    live = SegmentedIndex(spark, idx).doc_count
    assert live == N_PAGES - 1
    assert s3["docs"] == live


def test_change_ratio_policy_forces_full(spark, tmp_path):
    work, idx = tmp_path / "w_cr", tmp_path / "i_cr"
    update_index(_df(spark, _corpus()), work, idx, term_buckets=TERM_BUCKETS)
    mut = {i: f"rewritten{i} totally new body {i}" for i in range(N_PAGES)}
    s = update_index(_df(spark, _corpus(mutations=mut)), work, idx)
    assert s["route"] == "full_rebuild", s
    assert s["route_reason"].startswith("change_ratio")
    assert s["change_ratio"] > 0.5


def test_removed_docs_leave_the_index(spark, tmp_path):
    """Dropping the LAST url: its terms disappear from search results
    and the live doc count falls by one. The url is alone in its input
    bucket, so the delta holds tombstones and no postings; a later
    delta stacks on it."""
    work, idx = tmp_path / "w_rm", tmp_path / "i_rm"
    update_index(_df(spark, _corpus()), work, idx, term_buckets=TERM_BUCKETS)
    last = N_PAGES - 1
    s = update_index(_df(spark, _corpus(drop={last})), work, idx)
    assert s["route"] == "delta", s
    assert s["docs_written"] == 0 and s["docs_tombstoned"] == 1, s
    view = PersistedIndex(spark, idx)
    assert view.search_distributed(f"alpha{last}", k=5).collect() == []
    assert view.doc_count == N_PAGES - 1
    hits = view.search_distributed("common", k=100, prune=False).collect()
    assert len(hits) == N_PAGES - 1

    cur = _corpus(mutations={3: "alpha3 edited body common"}, drop={last})
    s2 = update_index(_df(spark, cur), work, idx, tombstone_ratio=1.0)
    assert s2["route"] == "delta" and s2["segments"] == 2, s2
    _assert_view_exact(
        spark, tmp_path, idx, cur, ["common", f"alpha{last}", "alpha3 edited"],
        "removed",
    )


@pytest.mark.usefixtures("executor_route")
def test_delta_ub_drift_pruning_is_exact(spark, tmp_path):
    """A delta that lengthens pages moves the layered view's avgdl past
    the ub basis the base was encoded with (ub_factor > 1). Pruned
    search_distributed must still equal prune=False on the same view
    and a fresh rebuild, scored by url."""
    n = 200

    def body(i, long=False):
        head = "common " * (6 if i < 30 else 1) + f"alpha{i} words"
        return head + "".join(f" pad{i}x{j}" for j in range(120) if long)

    def recs(long=frozenset()):
        return [_page(i, body(i, i in long)) for i in range(n)]

    work, idx = tmp_path / "w_ub", tmp_path / "i_ub"
    update_index(_df(spark, recs()), work, idx, term_buckets=8)
    longer = frozenset(range(5, n, 40))
    s = update_index(_df(spark, recs(longer)), work, idx, tombstone_ratio=1.0)
    assert s["route"] == "delta", s
    view = PersistedIndex(spark, idx)
    assert view.seg_ids and view.ub_factor > 1.0, view.ub_factor

    rb_dir = tmp_path / "rb_ub"
    build_and_write_index(_df(spark, recs(longer)), rb_dir, term_buckets=8)
    rb = PersistedIndex(spark, rb_dir)
    rb_docs = spark.read.parquet(str(rb_dir / "docs"))
    view_docs = view.docs_view()

    def by_url(searcher, docs, q, prune, metrics=None):
        rows = searcher.search_distributed(q, k=10, prune=prune, metrics=metrics)
        return sorted(
            (r["rank"], r["url"], round(float(r["score"]), 6))
            for r in rows.join(docs.select("doc_id", "url"), "doc_id").collect()
        )

    engaged = 0
    for q in ("common", "common words", "common alpha45", "pad45x3 common"):
        m: dict = {}
        pruned = by_url(view, view_docs, q, True, m)
        engaged += bool(m.get("pruned"))
        assert pruned == by_url(view, view_docs, q, False), q
        assert pruned == by_url(rb, rb_docs, q, False), q
    assert engaged, "pruning never engaged on the drifted view"
