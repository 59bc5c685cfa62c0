"""Incremental persisted-index maintenance (merge.py): change-ratio
policy, ordering-shift fallback, stage-2 work proportional to changed
buckets (untouched term-bucket partitions not rewritten), and
equivalence with a from-scratch build — including pruned search under
avg-doc-len drift (ub_factor)."""

from __future__ import annotations

import datetime as dt
import os
from pathlib import Path

import pytest

from vexor_spark.index.merge import update_persisted_index
from vexor_spark.index.storage import PersistedIndex, build_and_write_index
from vexor_spark.sources.corpus import PAGES_SCHEMA

N_PAGES = 60
TERM_BUCKETS = 64


def _pages(i: int, body: str) -> dict:
    return {
        "url": f"https://ex.org/p/{i:04d}.html",
        "warc_ts": dt.datetime(2025, 1, 1) + dt.timedelta(seconds=i),
        "html": body.encode(),
        "text": body,
        "lang": "en",
    }


def _corpus(mutations: dict[int, str] | None = None, drop: set[int] = frozenset()):
    mutations = mutations or {}
    recs = []
    for i in range(N_PAGES):
        if i in drop:
            continue
        body = mutations.get(i, f"alpha{i} beta{i} gamma{i} delta{i} common")
        recs.append(_pages(i, body))
    return recs


def _df(spark, recs):
    return spark.createDataFrame(recs, PAGES_SCHEMA)


def _partition_state(index_dir: Path) -> dict[str, tuple]:
    out = {}
    for sub in ("postings", "dict"):
        root = index_dir / sub
        for part in sorted(root.glob("term_bucket=*")):
            files = sorted(
                (f.name, f.stat().st_size, f.stat().st_mtime_ns)
                for f in part.glob("*.parquet")
            )
            out[f"{sub}/{part.name}"] = tuple(files)
    return out


def _postings_payload(spark, index_dir: Path) -> set[tuple]:
    rows = spark.read.parquet(str(index_dir / "postings")).collect()
    # everything except block_ub (basis-dependent, validated via search)
    return {
        (r["term"], r["df"], r["block_id"], r["n"], r["block_first"],
         r["block_last"], bytes(r["blob"]))
        for r in rows
    }


def test_incremental_update_touches_only_affected_partitions(spark, tmp_path):
    work, idx, fresh = tmp_path / "work", tmp_path / "idx", tmp_path / "fresh"

    s0 = update_persisted_index(
        _df(spark, _corpus()), work, idx, term_buckets=TERM_BUCKETS
    )
    assert s0["action"] == "full" and s0["reason"] == "no_existing_index"

    # no-op rebuild
    s1 = update_persisted_index(
        _df(spark, _corpus()), work, idx, term_buckets=TERM_BUCKETS
    )
    assert s1["action"] == "noop"

    # in-place edit of ONE page (same url, 1 chunk before and after, but
    # longer body → avgdl drifts and the ub basis stays put)
    mut = {7: "alpha7x beta7x gamma7x delta7x common extra7 words7 here7"}
    before = _partition_state(idx)
    s2 = update_persisted_index(
        _df(spark, _corpus(mut)), work, idx, term_buckets=TERM_BUCKETS
    )
    assert s2["action"] == "incremental", s2
    assert 0 < s2["affected_term_buckets"] < TERM_BUCKETS
    after = _partition_state(idx)
    changed = {k for k in before if before[k] != after.get(k)}
    changed |= set(after) - set(before)
    # work ∝ change: only affected term buckets rewritten
    assert len(changed) <= 2 * s2["affected_term_buckets"]  # postings + dict
    untouched = set(before) & set(after) - changed
    assert len(untouched) >= len(before) - 2 * s2["affected_term_buckets"]
    assert untouched, "expected untouched partitions"

    # equivalence with a from-scratch build on the same corpus
    build_and_write_index(_df(spark, _corpus(mut)), fresh, term_buckets=TERM_BUCKETS)
    assert _postings_payload(spark, idx) == _postings_payload(spark, fresh)

    pi, pf = PersistedIndex(spark, idx), PersistedIndex(spark, fresh)
    assert pi.doc_count == pf.doc_count
    assert pi.avg_doc_len == pytest.approx(pf.avg_doc_len)
    assert pi.ub_factor >= 1.0
    for q in ("alpha7x common", "beta3 common", "extra7 words7", "alpha12"):
        got = pi.search_local(q, k=10)
        want = pf.search_local(q, k=10)
        assert [(d, round(s, 9)) for _, d, s in got] == [
            (d, round(s, 9)) for _, d, s in want
        ], q
        # pruned == unpruned under ub drift
        unpruned = pi.search_local(q, k=10, prune=False)
        assert [(d, round(s, 9)) for _, d, s in got] == [
            (d, round(s, 9)) for _, d, s in unpruned
        ], q


def test_ordering_shift_falls_back_to_full(spark, tmp_path):
    work, idx, fresh = tmp_path / "work", tmp_path / "idx", tmp_path / "fresh"
    update_persisted_index(_df(spark, _corpus()), work, idx, term_buckets=TERM_BUCKETS)
    # dropping the url that sorts FIRST shifts every surviving doc id
    s = update_persisted_index(
        _df(spark, _corpus(drop={0})), work, idx, term_buckets=TERM_BUCKETS
    )
    assert s["action"] == "full" and s["reason"] == "ordering_shift"
    build_and_write_index(_df(spark, _corpus(drop={0})), fresh, term_buckets=TERM_BUCKETS)
    assert _postings_payload(spark, idx) == _postings_payload(spark, fresh)


def test_change_ratio_policy_forces_full(spark, tmp_path):
    work, idx = tmp_path / "work", tmp_path / "idx"
    update_persisted_index(_df(spark, _corpus()), work, idx, term_buckets=TERM_BUCKETS)
    mut = {i: f"rewritten{i} totally new body {i}" for i in range(N_PAGES)}
    s = update_persisted_index(
        _df(spark, _corpus(mut)), work, idx, term_buckets=TERM_BUCKETS
    )
    assert s["action"] == "full"
    assert s["reason"].startswith("change_ratio")
    assert s["change_ratio"] > 0.5


def test_removed_docs_leave_the_index(spark, tmp_path):
    """Dropping the LAST url keeps ids stable → incremental removal;
    its terms disappear from search results."""
    work, idx = tmp_path / "work", tmp_path / "idx"
    update_persisted_index(_df(spark, _corpus()), work, idx, term_buckets=TERM_BUCKETS)
    last = N_PAGES - 1
    s = update_persisted_index(
        _df(spark, _corpus(drop={last})), work, idx, term_buckets=TERM_BUCKETS
    )
    assert s["action"] == "incremental", s
    pi = PersistedIndex(spark, idx)
    assert pi.search_local(f"alpha{last}", k=5) == []
    assert pi.doc_count == N_PAGES - 1
    assert len(pi.search_local("common", k=100, prune=False)) == N_PAGES - 1


def test_unaffected_terms_pass_through_byte_identical(spark, tmp_path):
    """Within an AFFECTED term-bucket partition, terms the change does
    not name keep byte-identical blobs (the passthrough path: no
    decode, no re-encode) — merge CPU ∝ affected terms' postings."""
    work, idx = tmp_path / "work", tmp_path / "idx"
    update_persisted_index(_df(spark, _corpus()), work, idx, term_buckets=4)

    from vexor_spark.functions.codec import explode_blocks_rows
    from pyspark.sql import functions as F

    def _blobs(d):
        return {
            (r["term"], r["block_id"]): bytes(r["blob"])
            for r in spark.read.parquet(str(d / "postings")).collect()
        }

    def _terms_of_url(d, url):
        ids = {
            r["doc_id"]
            for r in spark.read.parquet(str(d / "docs"))
            .filter(F.col("url") == url).collect()
        }
        rows = explode_blocks_rows(
            spark.read.parquet(str(d / "postings"))
        ).select("term", "doc_id").collect()
        return {r["term"] for r in rows if r["doc_id"] in ids}

    url3 = _pages(3, "x")["url"]
    before = _blobs(idx)
    old_terms3 = _terms_of_url(idx, url3)
    # mutate one page: its old terms (alpha3...) and new terms are the
    # affected set; with only 4 term buckets every bucket is affected,
    # so the OLD design would re-encode every term.
    s = update_persisted_index(
        _df(spark, _corpus(mutations={3: "changed body words"})),
        work, idx, term_buckets=4,
    )
    assert s["action"] == "incremental"
    after = _blobs(idx)
    # affected = page 3's old + new terms, derived EXACTLY from the
    # artifacts (includes url-derived tokens shared by every page —
    # their blobs re-encode because page 3's doc_len changed).
    affected = old_terms3 | _terms_of_url(idx, url3)
    unaffected_keys = [k for k in before if k[0] not in affected]
    assert unaffected_keys, "test corpus must have unaffected terms"
    for k in unaffected_keys:
        assert after[k] == before[k], k
    # every vanished/changed key names an affected term
    assert all(k[0] in affected for k in set(before) - set(after))
    # 'common' was in page 3's OLD body but not the new one: it must be
    # re-encoded (affected via old_terms) with df dropping by exactly 1
    from vexor_spark.index.storage import PersistedIndex
    pi = PersistedIndex(spark, idx)
    assert pi.term_dict(["common"])["common"][0] == N_PAGES - 1
