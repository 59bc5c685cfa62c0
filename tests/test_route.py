"""search_distributed's two executors: the driver executor (numpy,
zero Spark jobs) and the executor route (Spark decode + WAND) return
the same ranked rows on a base view and on a layered view, the route
follows DRIVER_MAX_POSTINGS exactly, and `metrics=` names the route
and its reason."""

from __future__ import annotations

import pytest

import vexor_spark.index.storage as storage
from vexor_spark.index.delta import delta_update
from vexor_spark.index.maintenance import update_index
from vexor_spark.index.storage import PersistedIndex
from vexor_spark.oracle import pyref
from vexor_spark.sources.corpus import PAGES_SCHEMA, generate_pages_local, page_record

N_PAGES = 60
QUERIES = {
    "uid": "uid_000021",
    "phrase": "Page uid_000033 about",
    "head": "news merge index",
    "edge": "uid_000040 uid_000040 uid_000040",
    "cjk": "搜索引擎",
    "absent": "zzqqxx notfoundterm",
}
MODIFIED, REMOVED = 21, 33


def _modified(body: str) -> dict:
    rec = page_record(MODIFIED)
    rec["html"] = body.encode()
    rec["text"] = body
    return rec


def _new_page() -> dict:
    rec = page_record(N_PAGES + 5)
    rec["url"] = "https://example.org/fresh/new-page.html"
    return rec


def _layered_states():
    """Corpora of the base and of its two deltas: delta 1 rewrites one
    page, removes one and adds a new url; delta 2 rewrites the page
    again and re-adds the removed page."""
    base = generate_pages_local(N_PAGES)
    d1 = [r for r in base if r["url"] != page_record(REMOVED)["url"]]
    d1 = [_modified("uid_000021 rewritten news body") if r["url"] == page_record(MODIFIED)["url"]
          else r for r in d1] + [_new_page()]
    d2 = [_modified("uid_000021 merge index body, second rewrite")
          if r["url"] == page_record(MODIFIED)["url"] else r for r in base] + [_new_page()]
    return base, d1, d2


@pytest.fixture(scope="module")
def views(spark, tmp_path_factory):
    """(label, PersistedIndex, pyref oracle) for a base view and a
    two-layer view."""
    base, d1, d2 = _layered_states()
    work, idx = tmp_path_factory.mktemp("w_route"), tmp_path_factory.mktemp("i_route")
    update_index(spark.createDataFrame(base, PAGES_SCHEMA), work, idx, term_buckets=8)
    out = [("base", PersistedIndex(spark, idx), base)]
    for recs in (d1, d2):
        s = delta_update(spark.createDataFrame(recs, PAGES_SCHEMA), work, idx)
        assert s["action"] == "delta", s
    layered = PersistedIndex(spark, idx)
    assert len(layered.seg_ids) == 2 and layered._tombstone_arrays() is not None
    out.append(("layered", layered, d2))
    return [
        (label, pidx, pyref.build_corpus_index([(r["url"], r["html"]) for r in recs]))
        for label, pidx, recs in out
    ]


def _on(monkeypatch, route: str) -> None:
    monkeypatch.setattr(storage, "DRIVER_MAX_POSTINGS", 10**12 if route == "driver" else -1)


def _assert_matches_pyref(rows, keys, oracle, q, k, rdp, ctx):
    """rows equal pyref.search by (url, chunk_index): the same score at
    every rank, and each returned doc's pyref score equals its engine
    score. Tied docs may order differently, because a layered view's
    re-added and new docs hold fresh ids while pyref renumbers by url."""
    want = pyref.search(oracle, q, k=k, round_dp=rdp)
    assert [s for _, _, s in rows] == pytest.approx([s for _, s in want], rel=1e-9), ctx
    by_key = {(d[1], d[2]): d[0] for d in oracle["docs"]}
    full = pyref.score_postings(
        pyref.prepare_query_terms(q), oracle["postings"],
        oracle["doc_count"], oracle["avg_doc_len"],
    )
    for _, d, s in rows:
        ws = full[by_key[keys[d]]]
        assert s == pytest.approx(round(ws, rdp) if rdp is not None else ws, rel=1e-9), ctx


def test_routes_agree_with_each_other_and_pyref(spark, views, monkeypatch):
    for label, pidx, oracle in views:
        keys = {
            r["doc_id"]: (r["url"], r["chunk_index"])
            for r in pidx.docs_view().select("doc_id", "url", "chunk_index").collect()
        }
        for cls, q in QUERIES.items():
            for k in (1, 10):
                for prune in (True, False):
                    for rdp in (storage.SCORE_ROUND_DP, None):
                        got, schemas = {}, {}
                        for route in ("driver", "executor"):
                            _on(monkeypatch, route)
                            m: dict = {}
                            frame = pidx.search_distributed(
                                q, k=k, prune=prune, round_dp=rdp, metrics=m
                            )
                            assert m["route"] == route, (label, q, m)
                            schemas[route] = frame.schema
                            got[route] = [
                                (r["rank"], r["doc_id"], round(float(r["score"]), 9))
                                for r in frame.collect()
                            ]
                        ctx = (label, cls, k, prune, rdp)
                        assert got["driver"] == got["executor"], ctx
                        assert schemas["driver"] == schemas["executor"], ctx
                        _assert_matches_pyref(got["driver"], keys, oracle, q, k, rdp, ctx)
        if label == "base":
            # search_local is the driver executor itself
            _on(monkeypatch, "driver")
            assert pidx.search_local(QUERIES["head"], k=10) == [
                (r["rank"], r["doc_id"], r["score"])
                for r in pidx.search_distributed(QUERIES["head"], k=10).collect()
            ]


def test_driver_route_runs_no_spark_job(spark, views, monkeypatch):
    _on(monkeypatch, "driver")
    sc = spark.sparkContext
    for label, pidx, _ in views:
        group = f"driver-route-{label}"
        sc.setJobGroup(group, "routed query")
        try:
            m: dict = {}
            rows = pidx.search_distributed(QUERIES["head"], k=10, metrics=m).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert m["route"] == "driver" and rows, (label, m)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], label


def test_route_boundary_and_reasons(spark, views, monkeypatch):
    _, pidx, _ = views[1]
    q = QUERIES["head"]
    vol = sum(pidx.term_df_map(pyref.prepare_query_terms(q)).values())
    assert vol > 0

    monkeypatch.setattr(storage, "DRIVER_MAX_POSTINGS", vol)
    m: dict = {}
    at = pidx.search_distributed(q, k=10, metrics=m).collect()
    assert m["route"] == "driver", m
    assert m["route_reason"] == f"postings {vol} <= DRIVER_MAX_POSTINGS", m
    # the TAAT pass's own counters, no extra read
    assert 0 < m["blocks_decoded"] <= m["blocks_total"], m

    monkeypatch.setattr(storage, "DRIVER_MAX_POSTINGS", vol - 1)
    m = {}
    over = pidx.search_distributed(q, k=10, metrics=m).collect()
    assert m["route"] == "executor", m
    assert m["route_reason"] == f"postings {vol} > DRIVER_MAX_POSTINGS", m
    assert [tuple(r) for r in at] == [tuple(r) for r in over]

    # a tombstone map over the driver budget keeps every query, and
    # search_local, on the executors
    monkeypatch.setattr(storage, "DRIVER_MAX_POSTINGS", 10**12)
    big = PersistedIndex(spark, pidx.dir)
    big.TOMB_DRIVER_MAX = 0
    m = {}
    rows = big.search_distributed(q, k=10, metrics=m).collect()
    assert m["route"] == "executor", m
    assert m["route_reason"] == "tombstones over driver budget", m
    assert [tuple(r) for r in rows] == [tuple(r) for r in at]
    assert big.search_local(q, k=10) == [tuple(r) for r in at]
    assert big.warm() == 0
