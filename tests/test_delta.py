"""Delta segments (index/delta.py): update cost ∝ change (base postings
untouched), read-time layer merge EXACT vs a from-scratch rebuild of the
current corpus, layered tombstones across successive deltas, and
compaction folding segments back into the base."""

from __future__ import annotations

import datetime as dt
from pathlib import Path

from pyspark.sql import functions as F

from vexor_spark.index.delta import (
    SegmentedIndex,
    compact_segments,
    delta_update,
    load_manifest,
)
from vexor_spark.index.merge import update_persisted_index
from vexor_spark.index.storage import PersistedIndex, build_and_write_index
from vexor_spark.sources.corpus import PAGES_SCHEMA

N_PAGES = 50


def _page(i: int, body: str) -> dict:
    return {
        "url": f"https://ex.org/p/{i:04d}.html",
        "warc_ts": dt.datetime(2025, 1, 1) + dt.timedelta(seconds=i),
        "html": body.encode(),
        "text": body,
        "lang": "en",
    }


def _corpus(mutations=None, drop=frozenset(), extra=()):
    mutations = mutations or {}
    recs = []
    for i in range(N_PAGES):
        if i in drop:
            continue
        body = mutations.get(i, f"alpha{i} beta{i} gamma{i} delta{i} common words")
        recs.append(_page(i, body))
    for j, body in extra:
        recs.append(_page(1000 + j, body))
    return recs


def _df(spark, recs):
    return spark.createDataFrame(recs, PAGES_SCHEMA)


def _scores_by_url(searcher, docs_df, query, k=1000):
    ranked = searcher.search_distributed(query, k=k)
    rows = (
        ranked.join(docs_df.select("doc_id", "url"), "doc_id")
        .select("url", "score")
        .collect()
    )
    return {r["url"]: round(float(r["score"]), 6) for r in rows}


def _base_file_state(index_dir: Path) -> dict:
    out = {}
    for sub in ("postings", "dict"):
        for f in sorted((index_dir / sub).rglob("*.parquet")):
            out[str(f)] = (f.stat().st_size, f.stat().st_mtime_ns)
    return out


QUERIES = [
    "common",
    "alpha3 words",
    "freshly minted tokens",
    "alpha7 beta7",
    "brandnew page content",
]


def test_delta_exactness_and_base_untouched(spark, tmp_path):
    work, idx, rebuild = tmp_path / "work", tmp_path / "idx", tmp_path / "rb"
    update_persisted_index(_df(spark, _corpus()), work, idx, term_buckets=8)
    base_state = _base_file_state(idx)

    # delta 1: content change (3), page removed (7), brand-new page
    cur = dict(
        mutations={3: "freshly minted tokens replacing the old body"},
        drop={7},
        extra=[(1, "brandnew page content with common words")],
    )
    s1 = delta_update(_df(spark, _corpus(**cur)), work, idx)
    assert s1["action"] == "delta" and s1["seg"] == 1
    assert s1["docs_tombstoned"] > 0 and s1["docs_written"] > 0
    assert _base_file_state(idx) == base_state, "delta must not touch base postings"

    seg = SegmentedIndex(spark, idx)
    view = seg.docs_view().persist()
    urls = {r["url"] for r in view.select("url").distinct().collect()}
    assert _page(7, "")["url"] not in urls
    assert _page(1001, "")["url"] in urls

    # exact parity vs a from-scratch rebuild of the current corpus
    build_and_write_index(_df(spark, _corpus(**cur)), rebuild, term_buckets=8)
    rb = PersistedIndex(spark, rebuild)
    rb_docs = spark.read.parquet(str(rebuild / "docs"))
    assert seg.doc_count == rb.doc_count
    assert abs(seg.avg_doc_len - rb.avg_doc_len) < 1e-9
    for q in QUERIES:
        got = _scores_by_url(seg, view, q)
        want = _scores_by_url(rb, rb_docs, q)
        assert got == want, q

    # delta 2 re-changes page 3 (layered tombstones: seg-2 tombstone
    # must kill the seg-1 version) and restores page 7
    cur2 = dict(
        mutations={3: "third body entirely different rare tokens"},
        extra=[(1, "brandnew page content with common words")],
    )
    s2 = delta_update(_df(spark, _corpus(**cur2)), work, idx)
    assert s2["action"] == "delta" and s2["seg"] == 2
    assert _base_file_state(idx) == base_state

    seg2 = SegmentedIndex(spark, idx)
    view2 = seg2.docs_view().persist()
    rebuild2 = tmp_path / "rb2"
    build_and_write_index(_df(spark, _corpus(**cur2)), rebuild2, term_buckets=8)
    rb2 = PersistedIndex(spark, rebuild2)
    rb2_docs = spark.read.parquet(str(rebuild2 / "docs"))
    assert seg2.doc_count == rb2.doc_count
    for q in QUERIES + ["third body rare", "alpha7"]:
        got = _scores_by_url(seg2, view2, q)
        want = _scores_by_url(rb2, rb2_docs, q)
        assert got == want, q
    # the seg-1 version's unique terms are gone from the view
    assert _scores_by_url(seg2, view2, "freshly minted") == {}

    # ids are never reused: tombstoned ids stay dead, new ids grow
    man = load_manifest(spark, idx)
    assert man["next_doc_id"] > man["base_max_doc_id"] + 1

    # compaction folds segments into the base; results unchanged
    pre = {q: _scores_by_url(seg2, view2, q) for q in QUERIES}
    compact_segments(spark, work, idx)
    assert not (idx / "segments").exists()
    pi = PersistedIndex(spark, idx)
    pi_docs = spark.read.parquet(str(idx / "docs"))
    for q in QUERIES:
        assert _scores_by_url(pi, pi_docs, q) == pre[q], q
    view.unpersist()
    view2.unpersist()


def test_delta_noop_and_fresh_index(spark, tmp_path):
    work, idx = tmp_path / "w2", tmp_path / "i2"
    update_persisted_index(_df(spark, _corpus()), work, idx, term_buckets=8)
    s = delta_update(_df(spark, _corpus()), work, idx)
    assert s["action"] == "noop"
    # a segmented view with zero segments equals the base exactly
    seg = SegmentedIndex(spark, idx)
    pi = PersistedIndex(spark, idx)
    docs = spark.read.parquet(str(idx / "docs"))
    assert _scores_by_url(seg, docs, "common") == _scores_by_url(pi, docs, "common")


def test_delta_crash_window_resume(spark, tmp_path):
    """ADVICE r4: stage 1 commits lineage before the segment/manifest
    exist. Simulate a crash in that window (stage 1 ran, stage 2
    didn't): the durable pending marker must make the retry finish the
    segment instead of reporting 'noop' on a silently-stale view."""
    from vexor_spark.index.checkpoint import build_chunks_resumable
    from vexor_spark.index.delta import _pending_path

    work, idx = tmp_path / "w3", tmp_path / "i3"
    update_persisted_index(_df(spark, _corpus()), work, idx, term_buckets=8)

    cur = dict(mutations={3: "freshly minted tokens replacing the old body"})
    # "crash": stage 1 runs (lineage committed, chunk store current),
    # stage 2 never does.
    build_chunks_resumable(
        _df(spark, _corpus(**cur)), work, pending_file=_pending_path(idx)
    )
    assert _pending_path(idx).exists()

    # retry with the SAME snapshot: stage 1 sees zero stale buckets,
    # but the pending marker resumes the unfinished segment.
    s = delta_update(_df(spark, _corpus(**cur)), work, idx)
    assert s["action"] == "delta" and s["seg"] == 1
    assert not _pending_path(idx).exists()

    seg = SegmentedIndex(spark, idx)
    view = seg.docs_view()
    rebuild = tmp_path / "rb3"
    build_and_write_index(_df(spark, _corpus(**cur)), rebuild, term_buckets=8)
    rb = PersistedIndex(spark, rebuild)
    rb_docs = spark.read.parquet(str(rebuild / "docs"))
    for q in ("freshly minted", "common"):
        assert _scores_by_url(seg, view, q) == _scores_by_url(rb, rb_docs, q), q

    # leftover marker whose seg already committed (crash after manifest
    # save, before cleanup) is discarded, not re-applied
    import json as _json

    _pending_path(idx).write_text(
        _json.dumps({"changed_buckets": s2_buckets(spark, idx), "seg": 1})
    )
    s2 = delta_update(_df(spark, _corpus(**cur)), work, idx)
    assert s2["action"] == "noop"
    assert not _pending_path(idx).exists()


def s2_buckets(spark, idx):
    man = load_manifest(spark, Path(idx))
    return man["segments"][-1]["changed_buckets"]


def test_segmented_multi_query_rank_identity(spark, tmp_path):
    """SegmentedIndex.search_distributed_multi (round-5): one batched
    job over the layered view, rank-identical to per-query
    search_distributed with 2 live segments."""
    work, idx = tmp_path / "w4", tmp_path / "i4"
    update_persisted_index(_df(spark, _corpus()), work, idx, term_buckets=8)
    cur = dict(mutations={3: "freshly minted tokens replacing the old body"})
    delta_update(_df(spark, _corpus(**cur)), work, idx)
    cur2 = dict(
        mutations={3: "freshly minted tokens replacing the old body",
                   5: "second wave of edits with rare tokens"},
    )
    delta_update(_df(spark, _corpus(**cur2)), work, idx)

    seg = SegmentedIndex(spark, idx)
    assert len(seg.seg_ids) == 2
    queries = {f"q{i}": q for i, q in enumerate(QUERIES + ["zzz nomatch"])}
    batch = seg.search_distributed_multi(queries, k=10).collect()
    by_q: dict = {}
    for r in batch:
        by_q.setdefault(r["query"], []).append(
            (r["rank"], r["doc_id"], round(float(r["score"]), 6))
        )
    for name, q in queries.items():
        single = [
            (r["rank"], r["doc_id"], round(float(r["score"]), 6))
            for r in seg.search_distributed(q, k=10).collect()
        ]
        assert sorted(by_q.get(name, [])) == sorted(single), q


def test_legacy_segment_layout_raises(spark, tmp_path):
    """Round-5 ADVICE (medium): a manifest listing segments that are
    NOT in the round-5 block/sibling-hive layout must fail loudly at
    open — the old behavior served base-only rows (no segment docs, no
    tombstones) while manifest-derived stats still included segment
    counts, i.e. silently wrong results."""
    import json

    import pytest

    work, idx = tmp_path / "work", tmp_path / "idx"
    update_persisted_index(_df(spark, _corpus()), work, idx, term_buckets=8)
    delta_update(
        _df(spark, _corpus(mutations={3: "fresh body tokens"})), work, idx
    )
    man_path = idx / "segments.json"
    man = json.loads(man_path.read_text())

    # (a) record without format=='blocks' (pre-round-5 writer)
    legacy = json.loads(man_path.read_text())
    for s in legacy["segments"]:
        s.pop("format", None)
    man_path.write_text(json.dumps(legacy))
    with pytest.raises(ValueError, match="segment layout"):
        SegmentedIndex(spark, idx)

    # (b) format ok but the sibling-hive postings tree is missing
    man_path.write_text(json.dumps(man))
    import shutil

    shutil.move(str(idx / "segments" / "postings"), str(idx / "segments" / "p_bak"))
    with pytest.raises(ValueError, match="segment layout"):
        SegmentedIndex(spark, idx)
    shutil.move(str(idx / "segments" / "p_bak"), str(idx / "segments" / "postings"))
    SegmentedIndex(spark, idx)  # restored layout opens clean


def test_stage1_discards_applied_marker(spark, tmp_path):
    """Round-5 ADVICE: a pending marker whose seg id already appears in
    segments.json is a COMPLETED update that crashed before cleanup.
    The next stage-1 run must drop it (not merge its buckets into the
    fresh marker, where the seg key is lost and the buckets get
    re-applied as redundant tombstones)."""
    import json

    from vexor_spark.index.checkpoint import build_chunks_resumable

    work, idx = tmp_path / "work", tmp_path / "idx"
    update_persisted_index(_df(spark, _corpus()), work, idx, term_buckets=8)
    delta_update(
        _df(spark, _corpus(mutations={3: "fresh body tokens"})), work, idx
    )  # seg 1 committed; marker cleaned
    # simulate the crash window: manifest committed, marker left behind
    # (97/98 are sentinel bucket ids that cannot come from this corpus)
    (idx / "_pending_update.json").write_text(json.dumps({
        "changed_buckets": [97, 98], "seg": 1,
    }))
    cur = _corpus(mutations={3: "fresh body tokens", 5: "brand new page body"})
    stage1 = build_chunks_resumable(
        _df(spark, cur), work, pending_file=idx / "_pending_update.json"
    )
    marker = json.loads((idx / "_pending_update.json").read_text())
    assert 97 not in marker["changed_buckets"] and 98 not in marker["changed_buckets"]
    assert set(marker["changed_buckets"]) == set(stage1["stale_buckets"])

    # control: an UNAPPLIED marker (seg not in the manifest) still merges
    (idx / "_pending_update.json").write_text(json.dumps({
        "changed_buckets": [97], "seg": 99,
    }))
    cur2 = _corpus(mutations={3: "fresh body tokens", 5: "brand new page body",
                              9: "another changed body"})
    build_chunks_resumable(
        _df(spark, cur2), work, pending_file=idx / "_pending_update.json"
    )
    marker = json.loads((idx / "_pending_update.json").read_text())
    assert 97 in marker["changed_buckets"]


def _skew_corpus(n=300, boosted=40, demoted=frozenset()):
    """'common' appears tf=6 in the first `boosted` pages (contiguous
    doc ids → contiguous blocks), tf=1 elsewhere, tf=0 for demoted
    pages — the block-max shape where segment-aware pruning must both
    ENGAGE (θ from live boosted docs dominates tail blocks) and stay
    SOUND (tombstoned boosted docs may not inflate θ)."""
    recs = []
    for i in range(n):
        if i in demoted:
            body = f"alpha{i} plain words only"
        elif i < boosted:
            body = "common common common common common common " + f"alpha{i} words"
        else:
            body = f"common alpha{i} words"
        recs.append(_page(i, body))
    return recs


def _ranked(seg, query, k, prune, metrics=None):
    rows = seg.search_distributed(query, k=k, prune=prune, metrics=metrics).collect()
    return [(r["rank"], r["doc_id"], round(float(r["score"]), 9)) for r in rows]


def test_segmented_pruned_engages_and_is_exact(spark, tmp_path):
    """Round-6 top item: block-max pruning on the SegmentedIndex read
    path. (a) With live segments and ≥k live boosted docs in the base,
    pruning ENGAGES (tail blocks fail the bound test) and results are
    rank-identical to the unpruned layered read. (b) After tombstoning
    most boosted docs, a θ that ignored tombstones would still sit at
    the boosted kernel and silently drop the plain docs — the
    tombstone-aware walk must lower θ and stay exact."""
    work, idx = tmp_path / "work", tmp_path / "idx"
    update_persisted_index(_df(spark, _skew_corpus()), work, idx, term_buckets=8)

    # --- delta 1: demote 15 of the 40 boosted pages
    dem1 = frozenset(range(15))
    s1 = delta_update(_df(spark, _skew_corpus(demoted=dem1)), work, idx)
    assert s1["action"] == "delta"
    seg = SegmentedIndex(spark, idx)
    assert seg.seg_ids and seg._tombstone_arrays() is not None
    m = {}
    pruned = _ranked(seg, "common", 10, True, metrics=m)
    unpruned = _ranked(seg, "common", 10, False)
    assert pruned == unpruned
    assert m.get("pruned") is True and m.get("theta", 0.0) > 0.0, m
    # the bound test must actually fail blocks; at this toy scale the
    # candidate doc-id ranges can still span every block (the exactness
    # rescue re-decodes them), so decode reduction is asserted at bench
    # scale (scripts/bench_scale_r06.py), block FAILURE here.
    assert m["blocks_passing"] < m["blocks_total"], m
    assert m["blocks_decoded"] <= m["blocks_total"], m

    # a multi-term query through the same layered pruned path
    for q in ("common alpha17", "common words"):
        assert _ranked(seg, q, 10, True) == _ranked(seg, q, 10, False), q

    # --- delta 2: demote through 31 boosted → fewer than k live
    # boosted docs; sound θ must DROP to the plain-doc level
    dem2 = frozenset(range(31))
    s2 = delta_update(_df(spark, _skew_corpus(demoted=dem2)), work, idx)
    assert s2["action"] == "delta"
    seg2 = SegmentedIndex(spark, idx)
    pruned2 = _ranked(seg2, "common", 10, True)
    unpruned2 = _ranked(seg2, "common", 10, False)
    assert pruned2 == unpruned2
    # plain docs must be reachable now (an unsound θ drops them)
    assert len(pruned2) == 10


def test_segmented_decode_live_equals_join_path(spark, tmp_path):
    """The decode-time tombstone filter (codec.explode_blocks_rows with tomb_bc)
    returns exactly the rows the broadcast max-layer JOIN path returns
    — same live postings, same scores."""
    work, idx = tmp_path / "work", tmp_path / "idx"
    update_persisted_index(_df(spark, _corpus()), work, idx, term_buckets=8)
    delta_update(
        _df(spark, _corpus(mutations={3: "fresh minted tokens"}, drop={7})),
        work, idx,
    )
    seg_fast = SegmentedIndex(spark, idx)
    assert seg_fast._tombstone_bc() is not None  # decode-live active
    seg_join = SegmentedIndex(spark, idx)
    seg_join.TOMB_DRIVER_MAX = 0  # force the join fallback
    assert seg_join._tombstone_bc() is None
    for q in ("common", "alpha3 words", "fresh minted tokens", "alpha7 beta7"):
        fast = _ranked(seg_fast, q, 1000, False)
        join = _ranked(seg_join, q, 1000, False)
        assert fast == join, q
        # pruned path under the join fallback is exact too
        assert _ranked(seg_join, q, 10, True) == _ranked(seg_join, q, 10, False), q


def test_segmented_multi_uses_decode_live_and_stays_identical(spark, tmp_path):
    """Batch serving over the layered view after the decode-live
    rewrite: still rank-identical to per-query search_distributed."""
    work, idx = tmp_path / "work", tmp_path / "idx"
    update_persisted_index(_df(spark, _corpus()), work, idx, term_buckets=8)
    delta_update(
        _df(spark, _corpus(mutations={4: "freshly minted tokens"})), work, idx
    )
    seg = SegmentedIndex(spark, idx)
    queries = {"q0": "common", "q1": "alpha3 words", "q2": "freshly minted tokens"}
    batch = {
        (r["query"], r["rank"]): (r["doc_id"], round(float(r["score"]), 9))
        for r in seg.search_distributed_multi(queries, k=5).collect()
    }
    for name, q in queries.items():
        solo = _ranked(seg, q, 5, False)
        for rank, doc_id, score in solo:
            assert batch[(name, rank)] == (doc_id, score), (name, rank)


def test_manifest_cas_two_committers(spark, tmp_path):
    """Round-5 verdict item 8 (part 1, deterministic interleaving):
    optimistic manifest CAS — a committer holding a stale generation
    fails loudly instead of clobbering the winner; a later retry
    commits cleanly on the fresh generation."""
    import json

    import pytest

    from vexor_spark.index.delta import (
        ConcurrentUpdateError,
        _reserve_seg_id,
        _save_manifest,
        load_manifest,
    )

    work, idx = tmp_path / "work", tmp_path / "idx"
    update_persisted_index(_df(spark, _corpus()), work, idx, term_buckets=8)

    m_b = load_manifest(spark, idx)  # committer B snapshots generation 0
    s1 = delta_update(  # committer A wins generation 0 -> 1
        _df(spark, _corpus(mutations={3: "fresh race tokens"})), work, idx
    )
    assert s1["action"] == "delta"
    committed = json.loads((idx / "segments.json").read_text())
    assert committed["generation"] == 1

    m_b["segments"].append({
        "seg": 99, "format": "blocks", "n_new": 0, "n_removed": 0,
        "len_new": 0, "len_removed": 0, "changed_buckets": [],
    })
    with pytest.raises(ConcurrentUpdateError):
        _save_manifest(idx, m_b, expected_gen=0)
    # the winner's manifest is untouched
    assert json.loads((idx / "segments.json").read_text()) == committed

    # seg-id reservation: two reservers can never share a directory
    assert _reserve_seg_id(idx, 5) != _reserve_seg_id(idx, 5)

    # B retries cleanly on the fresh generation
    s2 = delta_update(
        _df(spark, _corpus(mutations={3: "fresh race tokens", 5: "other body"})),
        work, idx,
    )
    assert s2["action"] == "delta"
    assert json.loads((idx / "segments.json").read_text())["generation"] == 2


def test_concurrent_delta_race_one_winner(spark, tmp_path):
    """Round-5 verdict item 8 (part 2, real race): two updaters run the
    WHOLE delta concurrently from the same loaded generation. Exactly
    one commit wins — guaranteed by the CAS, independent of timing —
    the loser's orphan segment files are cleaned up, and its retry
    against the fresh manifest lands a consistent view (exact vs a
    from-scratch rebuild)."""
    import threading

    from vexor_spark.index.checkpoint import (
        DEFAULT_INPUT_BUCKETS,
        build_chunks_resumable,
    )
    from vexor_spark.index.delta import (
        ConcurrentUpdateError,
        _apply_delta,
        load_manifest,
    )

    work, idx, rb = tmp_path / "work", tmp_path / "idx", tmp_path / "rb"
    update_persisted_index(_df(spark, _corpus()), work, idx, term_buckets=8)
    cur = dict(mutations={3: "race body tokens entirely new"})
    stage1 = build_chunks_resumable(
        _df(spark, _corpus(**cur)), work, pending_file=idx / "_pending_update.json"
    )
    changed = sorted(stage1["stale_buckets"])
    assert changed

    results: dict = {}
    barrier = threading.Barrier(2)

    def attempt(name: str) -> None:
        manifest = load_manifest(spark, idx)  # both snapshot gen 0
        barrier.wait()
        try:
            results[name] = _apply_delta(
                spark, work, idx, changed,
                stage1=stage1, manifest=manifest, n_buckets=DEFAULT_INPUT_BUCKETS, t0=0.0,
            )
        except ConcurrentUpdateError:
            results[name] = "conflict"

    threads = [threading.Thread(target=attempt, args=(n,)) for n in ("a", "b")]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    outcomes = sorted(
        "conflict" if r == "conflict" else "win" for r in results.values()
    )
    assert outcomes == ["conflict", "win"], results

    manifest = load_manifest(spark, idx)
    assert manifest["generation"] == 1 and len(manifest["segments"]) == 1
    live_segs = {s["seg"] for s in manifest["segments"]}
    # the loser's orphan seg trees were removed
    for sub in ("postings", "docs", "tombstones", "dfdelta"):
        on_disk = {
            int(p.name.split("=")[1])
            for p in (idx / "segments" / sub).glob("seg=*")
        } if (idx / "segments" / sub).exists() else set()
        assert on_disk <= live_segs, (sub, on_disk, live_segs)

    # loser retries against the fresh manifest → consistent exact view
    retry = _apply_delta(
        spark, work, idx, changed,
        stage1=stage1, manifest=manifest, n_buckets=DEFAULT_INPUT_BUCKETS, t0=0.0,
    )
    assert retry["action"] == "delta"
    seg = SegmentedIndex(spark, idx)
    view = seg.docs_view()
    build_and_write_index(_df(spark, _corpus(**cur)), rb, term_buckets=8)
    rb_idx = PersistedIndex(spark, rb)
    rb_docs = spark.read.parquet(str(rb / "docs"))
    assert seg.doc_count == rb_idx.doc_count
    for q in ("common", "race body tokens", "alpha3 words"):
        assert _scores_by_url(seg, view, q) == _scores_by_url(rb_idx, rb_docs, q), q
