"""Unified index maintenance — ONE entry point that routes each update
by the reference's change-ratio gate (`max_incremental_ratio = 0.5`,
vexor/services/index_service.py:29, update flow :263-344), plus
budget-triggered auto-compaction:

    no existing index    → full build
    nothing changed      → noop            (budget check still runs)
    change ratio > 0.5   → full rebuild
    otherwise, with auto_compact and one more layer over max_segments
                         → compact         (full merge over the current
                                            chunk store, no delta)
    otherwise            → delta segment   (live segments or not; delta
                                            allocates fresh doc ids and
                                            never reuses them, so an
                                            ordering shift changes
                                            nothing)

The layer budget is predicted before the delta: the manifest's layer
count is on the driver, so an update whose delta would tip it runs
the compaction's full merge straight away instead of writing a
segment that the compaction deletes seconds later (the merge reads
the chunk store, which stage 1 has already brought up to date).

After every other call the compaction budget is checked: more than
`max_segments` live segments, or tombstones exceeding
`tombstone_ratio` of the view, triggers `compact_segments` — the LSM
read-cost bound that round 4 left as a manual step. The tombstone
trigger stays post-hoc: predicting it would need the view's doc count
in the changed buckets, one more job on every delta.

Crash safety: all routes share the durable pending marker
(storage._pending_path / checkpoint.build_chunks_resumable pending_file)
— stage 1 records the changed-bucket set before committing lineage, so
a crash between lineage and the route's own commit resumes the work on
retry instead of reporting noop over a silently-stale index.
"""

from __future__ import annotations

import datetime as dt
import json
import time
from pathlib import Path

from pyspark.sql import DataFrame

from vexor_spark.functions.codec import POSTING_BLOCK_SIZE
from vexor_spark.index.checkpoint import (
    DEFAULT_INPUT_BUCKETS,
    _append_metrics,
    build_chunks_resumable,
)
from vexor_spark.index.delta import (
    _apply_delta_retrying,
    compact_segments,
    load_manifest,
    resolve_pending_changes,
)
from vexor_spark.index.merge import full_merge
from vexor_spark.index.storage import _manifest_path, _pending_path, live_doc_count

REBUILD_RATIO = 0.5  # reference index_service.py:29 max_incremental_ratio
MAX_SEGMENTS = 4
TOMBSTONE_RATIO = 0.2


def _layers_over(n_layers: int, max_segments: int) -> str | None:
    """The layer-count half of the budget, shared by `compaction_due`
    and `update_index`'s prediction for the layer a delta would add."""
    if n_layers > max_segments:
        return f"segments {n_layers} > {max_segments}"
    return None


def compaction_due(
    manifest: dict,
    *,
    max_segments: int = MAX_SEGMENTS,
    tombstone_ratio: float = TOMBSTONE_RATIO,
) -> str | None:
    """Reason compaction should run now, or None — the LSM budget:
    layer count bounds per-query read fan-out, tombstone volume bounds
    the anti-join work every layered read pays."""
    segs = manifest["segments"]
    over = _layers_over(len(segs), max_segments)
    if over is not None:
        return over
    doc_count = live_doc_count(manifest)
    tombs = sum(s["n_removed"] for s in segs)
    if doc_count > 0 and tombs / doc_count > tombstone_ratio:
        return f"tombstones {tombs}/{doc_count} > {tombstone_ratio}"
    return None


def update_index(
    pages: DataFrame,
    work_dir: str | Path,
    index_dir: str | Path,
    *,
    n_buckets: int = DEFAULT_INPUT_BUCKETS,
    term_buckets: int = 64,
    block_size: int = POSTING_BLOCK_SIZE,
    rebuild_ratio: float = REBUILD_RATIO,
    max_segments: int = MAX_SEGMENTS,
    tombstone_ratio: float = TOMBSTONE_RATIO,
    auto_compact: bool = True,
) -> dict:
    """The unified maintenance entry point (module docstring has the
    routing table). Returns the route's summary dict with `route`,
    `route_reason` and `compaction` attached; on the `compact` route
    `compaction` is the full merge that replaced the delta, with its
    `trigger`. Query the result via PersistedIndex — it merges whatever
    segment layers are live."""
    work_dir, index_dir = Path(work_dir), Path(index_dir)
    spark = pages.sparkSession
    t0 = time.time()
    compaction = None
    have_index = (index_dir / "meta.json").exists()
    stage1 = build_chunks_resumable(
        pages, work_dir, n_buckets=n_buckets,
        pending_file=_pending_path(index_dir) if have_index else None,
    )
    if not have_index:
        summary = full_merge(
            spark, work_dir, index_dir,
            term_buckets=term_buckets, block_size=block_size,
        )
        route, reason = "full_build", "no_existing_index"
    else:
        meta = json.loads((index_dir / "meta.json").read_text())
        tb = int(meta["term_buckets"])
        bs = int(meta.get("block_size", block_size))
        manifest = load_manifest(spark, index_dir)
        changed = resolve_pending_changes(index_dir, stage1, manifest)
        ratio = (
            len(changed) / stage1["buckets_total"] if stage1["buckets_total"] else 1.0
        )
        if not changed:
            # report the LIVE view's doc count — base meta alone
            # understates it when delta segments are stacked on top
            # (round-5 ADVICE: metrics consumers saw pre-segment counts)
            live_docs = (
                live_doc_count(manifest) if manifest["segments"] else meta["doc_count"]
            )
            summary = {"action": "noop", "docs": live_docs, "secs": 0.0}
            route, reason = "noop", "no_change"
        elif ratio > rebuild_ratio:
            # full_merge also drops any segment layers and the pending
            # marker — the new base holds the whole current corpus
            summary = full_merge(
                spark, work_dir, index_dir, term_buckets=tb, block_size=bs
            )
            route = "full_rebuild"
            reason = f"change_ratio {ratio:.2f} > {rebuild_ratio}"
        elif auto_compact and (
            due := _layers_over(len(manifest["segments"]) + 1, max_segments)
        ):
            # the delta would tip the layer budget: compacting now
            # writes the same base without the segment it would delete
            compaction = compact_segments(spark, work_dir, index_dir)
            compaction["trigger"] = due
            summary = {
                "action": "compact",
                "docs": compaction["docs"],
                "secs": compaction["secs"],
            }
            route = "compact"
            reason = f"change_ratio {ratio:.2f} <= {rebuild_ratio}; {due}"
        else:
            summary = _apply_delta_retrying(
                spark, work_dir, index_dir, changed,
                stage1=stage1, manifest=manifest, n_buckets=n_buckets, t0=t0,
            )
            route = "delta"
            reason = f"change_ratio {ratio:.2f} <= {rebuild_ratio}"

    summary["route"] = route
    summary["route_reason"] = reason
    summary["change_ratio"] = round(
        len(stage1["stale_buckets"] + stage1["removed_buckets"])
        / stage1["buckets_total"], 4,
    ) if stage1["buckets_total"] else 1.0

    if compaction is None and auto_compact and _manifest_path(index_dir).exists():
        manifest = load_manifest(spark, index_dir)
        due = compaction_due(
            manifest, max_segments=max_segments, tombstone_ratio=tombstone_ratio
        )
        if due is not None:
            compaction = compact_segments(spark, work_dir, index_dir)
            compaction["trigger"] = due
    summary["compaction"] = compaction

    summary["total_secs"] = round(time.time() - t0, 3)
    _append_metrics(work_dir, {
        "stage": "update_index",
        "at": dt.datetime.now(dt.timezone.utc).isoformat(),
        **{k: v for k, v in summary.items() if k not in ("stage1",)},
    })
    return summary
