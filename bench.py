"""Engine benchmark — prints ONE JSON line for the driver.

Three sections:
1. Headline catalog queries at $SPARK_GRAFT_SF_DIR (default
   /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]: per-query
   wall-clock seconds ("queries" field; "value" = their sum).
2. Index-build scaling: the identical `spark-submit --py-files` job
   (scripts/bench_build.py) at local[N_SMALL=8] and local[N_BIG=32] on
   the same deterministic synthetic pages corpus — the sandbox stand-in
   for the N vs 4N executor criterion (see BASELINE.md). Reports
   docs/sec at both and efficiency = big/(4·small).
3. BM25 top-10 query latency (median/p95 over the 30-query suite,
   warm persisted index) from the local[32] run.

Env knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, BENCH_PAGES (corpus
size for the build benchmark, default 24000), BENCH_SKIP_SCALING=1.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import time
import zipfile
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
BENCH_PAGES = int(os.environ.get("BENCH_PAGES", "200000"))
# Host noise swings identical builds 2-3×; scaling runs are therefore
# ALTERNATED across fresh JVMs (N, 4N, N, 4N) and each side takes its
# minimum, decorrelating slow-host windows from one cluster size.
BENCH_ROUNDS = int(os.environ.get("BENCH_ROUNDS", "2"))
N_SMALL, N_BIG = 8, 32
# Second N→4N pair measured on the UNSATURATED region of this single
# box (32 real cores share one memory bus; BASELINE.md quantifies the
# hardware ceiling with a pure-CPU control). Skippable via env.
N_SMALL2, N_BIG2 = 4, 16
BENCH_SECOND_PAIR = os.environ.get("BENCH_SECOND_PAIR", "1") != "0"

HEADLINE = [
    "bm25_top10",
    "bm25_multi",
    "term_tf",
    "term_df",
    "corpus_stats",
    "rrf_hybrid",
    "cosine_topk",
    "ann_lsh_topk",
    "near_dup_pairs",
    "dup_clusters",
    "curated_corpus",
    "simhash",
    # simhash_near_dup is catalog-verified (oracle green at sf≤0.01)
    # but excluded from TIMED suites: on the deliberately homogeneous
    # synthetic corpus its output is degenerate — nearly every doc pair
    # is a genuine hamming-≤2 neighbor of the 16-bit simhash (the whole
    # corpus is one topic cluster), so runtime is output-bound
    # quadratic regardless of blocking. See operators/dedup.py caveat;
    # near_dup_pairs (3-gram MinHash-LSH) is the scale-robust arm.
    # The 64-bit production arm IS timed: at 64 bits the background
    # Hamming distribution concentrates near 32, so output stays
    # proportional to true near-dups even on the homogeneous corpus.
    "simhash64_near_dup",
    "exclude_filter",
    "chunk_code",
    "media_features",
    "lang_id",
    "quality_score",
    "chunk_full",
    "keyword_top20",
    "events_hourly",
]


def _zip_package(tmp: Path) -> Path:
    zpath = tmp / "vexor_spark.zip"
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
        for p in sorted((REPO / "vexor_spark").rglob("*.py")):
            zf.write(p, p.relative_to(REPO))
    return zpath


def _run_build(
    master: str, pages: int, zpath: Path, workdir: Path, queries: int, pages_dir: Path
) -> dict:
    cmd = [
        "spark-submit",
        "--master",
        master,
        "--conf",
        "spark.sql.shuffle.partitions=64",
        "--conf",
        "spark.ui.enabled=false",
        "--conf",
        "spark.driver.memory=8g",
        "--py-files",
        str(zpath),
        str(REPO / "scripts" / "bench_build.py"),
        "--pages",
        str(pages),
        "--workdir",
        str(workdir),
        "--pages-dir",
        str(pages_dir),
        "--queries",
        str(queries),
        "--repeats",
        "2",  # in-JVM best-of-2 (2nd rep is JIT/page-cache warm)
    ]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=3000)
    m = re.search(r"BENCH_BUILD (\{.*\})", proc.stdout)
    if not m:
        sys.stderr.write(proc.stdout[-2000:] + "\n" + proc.stderr[-4000:] + "\n")
        raise RuntimeError(f"bench_build produced no result at {master}")
    return json.loads(m.group(1))


def run_headline_queries() -> dict[str, float]:
    from vexor_spark.session import get_spark

    import __spark_entry__ as entry_mod

    spark = get_spark(
        f"local[{CPUS}]", shuffle_partitions=max(CPUS, 32), app_name="vexor_bench"
    )
    qs = entry_mod.queries()
    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = qs[name]
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()  # warm
        t0 = time.time()
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        timings[name] = round(time.time() - t0, 3)
    spark.stop()
    return timings


def main() -> None:
    sf_match = re.search(r"sf([\d.]+)", SF_DIR)
    sf = float(sf_match.group(1)) if sf_match else None

    timings = run_headline_queries()

    result = {
        "metric": "headline query suite wall-clock (sum) + index-build scaling",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # one-off 10× campaign (2M-page build, suite growth factors,
        # oracle re-check at 10×, rank identity at 2.23M docs): a
        # historical artifact; the script that made it is retired
        "scale10x_artifact": "BENCH_SCALE10X.json",
    }

    if os.environ.get("BENCH_SKIP_SCALING") != "1":
        tmp = Path(tempfile.mkdtemp(prefix="vexor_bench_"))
        try:
            zpath = _zip_package(tmp)
            pages_dir = tmp / "pages"
            smalls, bigs = [], []
            big = small = None
            for rnd in range(BENCH_ROUNDS):
                small = _run_build(
                    f"local[{N_SMALL}]", BENCH_PAGES, zpath, tmp / f"n_small_{rnd}",
                    queries=0, pages_dir=pages_dir,
                )
                big = _run_build(
                    f"local[{N_BIG}]", BENCH_PAGES, zpath, tmp / f"n_big_{rnd}",
                    queries=40 if rnd == BENCH_ROUNDS - 1 else 0,
                    pages_dir=pages_dir,
                )
                smalls.append(small)
                bigs.append(big)
            s_best = min(smalls, key=lambda r: r["build_secs"])
            b_best = min(bigs, key=lambda r: r["build_secs"])
            eff = b_best["docs_per_sec"] / ((N_BIG / N_SMALL) * s_best["docs_per_sec"])
            result["scaling"] = {
                "pages": BENCH_PAGES,
                "docs": b_best["docs"],
                "docs_per_sec_n8": s_best["docs_per_sec"],
                "docs_per_sec_n32": b_best["docs_per_sec"],
                "build_secs_n8": s_best["build_secs"],
                "build_secs_n32": b_best["build_secs"],
                "build_secs_n8_all": [r["build_secs"] for r in smalls],
                "build_secs_n32_all": [r["build_secs"] for r in bigs],
                "efficiency_n8_to_n32": round(eff, 3),
            }
            if BENCH_SECOND_PAIR:
                # N→4N on the unsaturated region of the box (see
                # BASELINE.md) — one cross-JVM round each (in-JVM
                # best-of-2 still applies) to bound total bench time.
                s2 = _run_build(
                    f"local[{N_SMALL2}]", BENCH_PAGES, zpath,
                    tmp / "n_s2", queries=0, pages_dir=pages_dir,
                )
                b2 = _run_build(
                    f"local[{N_BIG2}]", BENCH_PAGES, zpath,
                    tmp / "n_b2", queries=0, pages_dir=pages_dir,
                )
                eff2 = b2["docs_per_sec"] / ((N_BIG2 / N_SMALL2) * s2["docs_per_sec"])
                result["scaling"].update(
                    {
                        "docs_per_sec_n4": s2["docs_per_sec"],
                        "docs_per_sec_n16": b2["docs_per_sec"],
                        "efficiency_n4_to_n16": round(eff2, 3),
                    }
                )
            result["bm25_query_latency"] = {
                "median_sec": big.get("query_median_sec"),
                "p95_sec": big.get("query_p95_sec"),
            }
            result["distributed_query_latency"] = {
                "median_sec": big.get("dist_query_median_sec"),
                "p95_sec": big.get("dist_query_p95_sec"),
                "by_class": big.get("dist_query_by_class"),
            }
            result["head_pruning"] = big.get("head_pruning")
            result["multiquery"] = {
                "batch_secs": big.get("multiquery_batch_secs"),
                "amortization_vs_sequential_pruned": big.get(
                    "multiquery_amortization"
                ),
            }
            result["index_build_docs_per_sec"] = b_best["docs_per_sec"]
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    print(json.dumps(result))


if __name__ == "__main__":
    main()
