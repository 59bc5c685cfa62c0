"""Multi-PROCESS manifest-CAS stress (round-7; round-6 verdict item 4).

The round-6 CAS tests pin two THREADS with a deterministic
interleaving; this harness proves the O_EXCL-generation-lock + atomic
rename protocol across real process boundaries: two independent Python
processes (each its own JVM/SparkSession, its own work dir) race delta
updates against ONE shared index directory for N barrier-synchronised
rounds, so both updaters snapshot the same manifest generation nearly
every round and one of them must lose the CAS and retry.

Checks, in increasing strength:
1. liveness / no lost commits — every round of every process returns a
   committed action ("delta", possibly retried_after_conflict); the
   final manifest generation equals the number of committed segments.
2. no orphans, no missing files — segment ids on disk == segment ids
   in the manifest (the loser's cleanup never deletes the winner's
   files, and its own staging leftovers are removed).
3. convergence — after the race, one catch-up delta from the TRUE
   final corpus state; the segmented view must then rank-match a
   from-scratch rebuild of that state (per-bucket last-writer
   semantics make mid-race views snapshot-ordered, so the equality
   check belongs at the converged state).

Usage: python scripts/stress_cas_r07.py [--rounds 10] [--out STRESS_CAS_r07.json]
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

N_PAGES = 120


def _page(i: int, body: str) -> dict:
    return {
        "url": f"https://ex.org/p/{i:04d}.html",
        "warc_ts": dt.datetime(2025, 1, 1) + dt.timedelta(seconds=i),
        "html": body.encode(),
        "text": body,
        "lang": "en",
    }


def _corpus(state: dict[int, str]) -> list[dict]:
    recs = []
    for i in range(N_PAGES):
        body = state.get(
            i, f"alpha{i} beta{i} gamma{i} delta{i} common words"
        )
        recs.append(_page(i, body))
    return recs


WORKER = r"""
import json, sys, time, os
from pathlib import Path
sys.path.insert(0, {repo!r})
from vexor_spark.session import get_spark
from vexor_spark.index.delta import delta_update, ConcurrentUpdateError
from scripts.stress_cas_r07 import _corpus
from vexor_spark.sources.corpus import PAGES_SCHEMA

name, rounds, shared, work = sys.argv[1], int(sys.argv[2]), Path(sys.argv[3]), Path(sys.argv[4])
idx = shared / "idx"
spark = get_spark("local[8]", shuffle_partitions=8, app_name=f"cas_{{name}}")
me = 0 if name == "A" else 60  # disjoint doc-id ranges per process
log = []
for r in range(rounds):
    # mutate my slice of the SHARED corpus state under a lock file
    lock = shared / "state.lock"
    while True:
        try:
            fd = os.open(str(lock), os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.close(fd)
            break
        except FileExistsError:
            time.sleep(0.01)
    state = json.loads((shared / "state.json").read_text())
    state[str(me + r)] = f"proc{{name}} round{{r}} fresh body tokens zulu{{r}}"
    (shared / "state.json").write_text(json.dumps(state))
    lock.unlink()
    snapshot = {{int(k): v for k, v in state.items()}}

    # barrier: both processes enter the round together so their
    # manifest loads race on the same generation
    (shared / f"ready_{{name}}_{{r}}").touch()
    other = "B" if name == "A" else "A"
    deadline = time.time() + 120
    while not (shared / f"ready_{{other}}_{{r}}").exists():
        if time.time() > deadline:
            break  # partner finished early (fewer rounds) — proceed solo
        time.sleep(0.005)

    df = spark.createDataFrame(_corpus(snapshot), PAGES_SCHEMA)
    t0 = time.time()
    attempts = 0
    while True:
        attempts += 1
        try:
            out = delta_update(df, work, idx)
            break
        except ConcurrentUpdateError:
            # client-level retry beyond the built-in single retry:
            # rebuild stage-1 against the fresh view and go again
            if attempts >= 5:
                raise
    log.append({{
        "round": r, "action": out.get("action"),
        "retried": bool(out.get("retried_after_conflict")),
        "attempts": attempts, "secs": round(time.time() - t0, 2),
    }})
print("WORKERLOG " + json.dumps({{"name": name, "rounds": log}}))
"""


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rounds", type=int, default=10)
    ap.add_argument("--out", default=str(REPO / "STRESS_CAS_r07.json"))
    ap.add_argument("--tmp", default="/tmp/cas_stress")
    args = ap.parse_args()

    import shutil

    shared = Path(args.tmp)
    shutil.rmtree(shared, ignore_errors=True)
    shared.mkdir(parents=True)
    (shared / "state.json").write_text("{}")
    idx = shared / "idx"

    from vexor_spark.index.maintenance import update_index
    from vexor_spark.session import get_spark
    from vexor_spark.sources.corpus import PAGES_SCHEMA

    spark = get_spark("local[8]", shuffle_partitions=8, app_name="cas_parent")
    base_work = shared / "work_base"
    update_index(
        spark.createDataFrame(_corpus({}), PAGES_SCHEMA), base_work, idx,
        term_buckets=8,
    )

    code = WORKER.format(repo=str(REPO))
    procs = {}
    for name in ("A", "B"):
        procs[name] = subprocess.Popen(
            [sys.executable, "-c", code, name, str(args.rounds), str(shared),
             str(shared / f"work_{name}")],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )
    logs = {}
    for name, p in procs.items():
        out, err = p.communicate(timeout=3600)
        if p.returncode != 0:
            print(err[-4000:])
            raise SystemExit(f"worker {name} failed rc={p.returncode}")
        for line in out.splitlines():
            if line.startswith("WORKERLOG "):
                logs[name] = json.loads(line[10:])

    # ---- invariant checks -------------------------------------------------
    from vexor_spark.index.delta import SegmentedIndex, load_manifest

    manifest = load_manifest(spark, idx)
    commits = sum(
        1 for lg in logs.values() for r in lg["rounds"] if r["action"] == "delta"
    )
    noops = sum(
        1 for lg in logs.values() for r in lg["rounds"] if r["action"] == "noop"
    )
    conflicts = sum(
        1
        for lg in logs.values()
        for r in lg["rounds"]
        if r["retried"] or r["attempts"] > 1
    )
    gen = int(manifest.get("generation", 0))
    seg_ids_manifest = sorted(s["seg"] for s in manifest["segments"])
    # layout: segments/<family>/seg=N/ hive trees (delta.py module doc)
    seg_ids_disk: set[int] = set()
    seg_root = idx / "segments"
    for fam in ("postings", "docs", "tombstones", "dfdelta"):
        d = seg_root / fam
        if d.is_dir():
            for p in d.iterdir():
                if p.is_dir() and p.name.startswith("seg="):
                    seg_ids_disk.add(int(p.name.split("=")[1]))
    # a loser's leftover reservation marker without files is also an orphan
    stale_reservations = [
        p.name
        for p in (seg_root.iterdir() if seg_root.is_dir() else [])
        if p.name.startswith("_seg.")
        and int(p.name.split(".")[1]) not in seg_ids_manifest
    ]
    # every manifest segment's files exist; every disk segment is owned
    orphans = sorted(s for s in seg_ids_disk if s not in seg_ids_manifest)
    missing = sorted(s for s in seg_ids_manifest if s not in seg_ids_disk)

    # ---- convergence: catch-up delta + rebuild comparison -----------------
    from vexor_spark.index.delta import delta_update
    from vexor_spark.index.storage import build_and_write_index, PersistedIndex

    state = {int(k): v for k, v in json.loads((shared / "state.json").read_text()).items()}
    final_df = spark.createDataFrame(_corpus(state), PAGES_SCHEMA)
    delta_update(final_df, shared / "work_base", idx)  # catch-up (usually noop)
    view = SegmentedIndex(spark, idx)

    rb = shared / "rebuild"
    build_and_write_index(final_df, rb, term_buckets=8)
    fresh = PersistedIndex(spark, rb)

    queries = ["common words", "alpha3 beta3", "procA round0 fresh", "zulu1 tokens", "delta7"]
    mismatches = []
    for q in queries:
        a = [
            (r["score"], r["doc_id"]) for r in view.search_distributed(q, k=20).collect()
        ]
        b = [
            (r["score"], r["doc_id"]) for r in fresh.search_distributed(q, k=20).collect()
        ]
        # doc ids differ between rebuild and incremental view (ids are
        # never reused) — compare the ranked SCORE sequences
        if [round(s, 6) for s, _ in a] != [round(s, 6) for s, _ in b]:
            mismatches.append(q)

    result = {
        "rounds_per_proc": args.rounds,
        "worker_logs": logs,
        "commits": commits,
        "noops": noops,
        "conflict_retries": conflicts,
        "manifest_generation": gen,
        "segments_in_manifest": len(seg_ids_manifest),
        "orphan_segment_dirs": orphans,
        "missing_segment_dirs": missing,
        "stale_reservation_markers": stale_reservations,
        # catch-up delta may or may not commit one more segment
        "generation_consistent": gen in (commits, commits + 1)
        and gen == len(seg_ids_manifest),
        "convergence_rank_mismatches": mismatches,
    }
    Path(args.out).write_text(json.dumps(result, indent=1))
    print(json.dumps({k: v for k, v in result.items() if k != "worker_logs"}, indent=1))


if __name__ == "__main__":
    main()
