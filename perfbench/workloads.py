"""The benchmark's workloads: `serve` and `update`.

Both are driven by one client in a closed loop: the next call starts
only after the previous one returned. Every call into the engine goes
through `Bench.op`, which times it from outside (wall clock and
process-tree CPU) and, on a traced run, wraps it in a span. Inputs are
a pure function of the seed; the engine sees only the generated pages,
catalog tables and query strings.

Each workload also runs its share of the query catalog (one entry of
each catalog family between the two) over catalog tables generated
from the seed, checked against the entries' DuckDB oracle SQL.
"""

from __future__ import annotations

import json
import math
import os
import random
import statistics
import time
from collections import OrderedDict
from contextlib import contextmanager
from pathlib import Path

import benchstats
import procstat
from eventlog import attribute, find_log, read_events, shuffle_write_of_jobs
from spans import Tracer, union_length

PAGES_PER_CORE = 250
LOCAL_QUERIES = 1000  # the fewest that support a p99 (10 samples beyond it)
WARM_LOCAL_QUERIES = 200
TERM_CACHE_MAX = 4096  # PersistedIndex term cache size, for the reuse ratio
INPUT_BUCKETS = 32
PROBES = 2  # probe queries (a uid and a phrase one) before and after the timed cycle
TERM_BUCKETS = 16  # posting partitions; the engine's default 64 is sized for large corpora
# a second live delta layer triggers compaction, so each timed update
# cycle, which starts from one delta layer, also compacts
UPDATE_MAX_SEGMENTS = 1
# class of each distributed query in a serve round: a fixed mix, so a
# run's median does not depend on which classes the seed drew
DIST_ROUND = ("uid", "phrase", "head", "uid", "phrase", "edge")

CATALOG_DOCS_PER_CORE = 250
CATALOG_VECS_PER_CORE = 100
# the vocabulary of the catalog's documents table; the catalog's fixed
# queries ("spark join window", ...) are made of these words
CATALOG_VOCAB = (
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "batch", "part", "line", "order", "small", "sort", "fast",
    "scan", "a", "hash", "slow", "group", "query", "big", "filter",
    "key", "row", "data", "agg", "join", "customer", "index", "range",
)
# the catalog entries of the round-7 kernels, split between the
# workloads so that every workload reports catalog_cpu_s: rrf_hybrid
# runs fusion with a BM25 leg and a cosine leg, simhash64_near_dup the
# dedup kernels and fast hashes, ivf_ann_topk the similarity kernels.
# The BM25 family's serving path is the serve workload itself.
CATALOG_SHARE = {
    "serve": ("rrf_hybrid",),
    "update": ("simhash64_near_dup", "ivf_ann_topk"),
}
CATALOG_ENTRIES = tuple(n for share in CATALOG_SHARE.values() for n in share)

# End-to-end metrics are CPU-seconds of the process tree: on a shared
# host wall times drift with the neighbours' load by more than any
# usable bound, while CPU-seconds repeat. setup_s is the CPU spent from
# process start to the first timed call. Wall times are per layer.
E2E_UNITS = {
    "setup_s": "s",
    "write_cpu_s": "CPU-s",
    "dist_cpu_ms": "CPU-ms",
    "catalog_cpu_s": "CPU-s",
    "index_bytes_per_posting": "B",
}

LAYER_UNITS = {
    "setup.wall_s": "s",
    "write.wall_s": "s",
    "dist.wall_p50_ms": "ms",
    "batch.wall_s": "s",
    "batch.cpu_s": "CPU-s",
    "setup.jvm_s": "s",
    "setup.corpus_s": "s",
    "setup.warm_s": "s",
    "build.extract_chunk_ids_s": "s",
    "build.tf_encode_postings_s": "s",
    "build.dict_docs_write_s": "s",
    "build.ids_shuffle_bytes": "B",
    "build.shuffle_write_bytes": "B",
    "build.spill_bytes": "B",
    "build.gc_s": "s",
    "build.executor_cpu_s": "CPU-s",
    "build.files_written": "count",
    "write.cpu_driver_s": "CPU-s",
    "write.cpu_jvm_s": "CPU-s",
    "write.cpu_workers_s": "CPU-s",
    "local.p50_ms": "ms",
    "local.p99_ms": "ms",
    "local.cpu_ms": "CPU-ms",
    "storage.term_dict_ms": "ms",
    "storage.block_meta_ms": "ms",
    "codec.decode_np_ms": "ms",
    "serve.term_reuse_ratio": "ratio",
    "wand.engaged": "count",
    "wand.blocks_decoded": "count",
    "wand.blocks_total": "count",
    "wand.candidates": "count",
    "dist.jobs": "count",
    "dist.tasks": "count",
    "dist.executor_cpu_ms": "CPU-ms",
    "dist.shuffle_bytes": "B",
    "dist.driver_ms": "ms",
    "dist.cpu_driver_ms": "CPU-ms",
    "dist.cpu_jvm_ms": "CPU-ms",
    "dist.cpu_workers_ms": "CPU-ms",
    "dist.uid_p50_ms": "ms",
    "dist.phrase_p50_ms": "ms",
    "dist.edge_p50_ms": "ms",
    "dist.head_p50_ms": "ms",
    "batch.jobs": "count",
    "batch.shuffle_bytes": "B",
    "update.stage1_s": "s",
    "update.pages_rebuilt": "count",
    "update.delta_s": "s",
    "update.docs_written": "count",
    "update.docs_tombstoned": "count",
    "update.route_delta": "count",
    "update.route_full_rebuild": "count",
    "update.route_inplace": "count",
    "update.route_noop": "count",
    "compact.secs": "s",
    "compact.bytes_rewritten": "B",
    "seg.layers": "count",
    "seg.dist_p50_ms_0": "ms",
    "seg.dist_p50_ms_1": "ms",
    **{f"catalog.{n}_{m}": u for n in CATALOG_ENTRIES
       for m, u in (("s", "s"), ("cpu_s", "CPU-s"), ("shuffle_bytes", "B"))},
    "index.bytes.postings": "B",
    "index.bytes.dict": "B",
    "index.bytes.docs": "B",
    "index.bytes.segments": "B",
    "index.files": "count",
    "host.steal_pct": "%",
    "host.cpus": "count",
    "trace.overhead_pct": "%",
}


class Bench:
    """One run's state: session, tracer, samples and counters."""

    def __init__(self, spark, run_dir: Path, seed: int, seconds: float, trace: bool,
                 process_start: float, nproc: int):
        self.spark = spark
        self.run_dir = run_dir
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.nproc = nproc
        self.process_start = process_start
        self.tracer = Tracer(spark.sparkContext, trace)
        self.samples: dict[str, list[float]] = {}
        self.layer: dict[str, float] = {k: 0.0 for k in LAYER_UNITS}
        self.e2e: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.steal = procstat.StealMeter()
        self.deadline = None
        self.pid = os.getpid()
        self.jvm_pid = spark.sparkContext._gateway.proc.pid

    # --- measurement -------------------------------------------------------

    def add(self, key: str, value: float) -> None:
        self.samples.setdefault(key, []).append(value)

    @contextmanager
    def op(self, name: str, *, timed: bool = True, **attrs):
        """One call into the engine: counted as attempted, timed from
        outside when `timed`, spanned on a traced run. An exception is
        a failed operation and ends the run."""
        self.attempted += 1
        c0 = self.cpu() if timed else None
        t0 = time.perf_counter()
        out: dict = {}
        try:
            with self.tracer.span(name, **attrs) as span:
                out["span"] = span
                yield out
        except Exception as exc:
            self.failed += 1
            self.failures.append(f"{name}: {type(exc).__name__}: {exc}")
            raise
        out["wall_s"] = time.perf_counter() - t0
        if timed:
            c1 = self.cpu()
            out["cpu_by_role"] = {k: c1[k] - c0[k] for k in c1}
            out["cpu_s"] = sum(out["cpu_by_role"].values())

    def cpu(self) -> dict[str, float]:
        return procstat.cpu_by_role(procstat.read_proc_table(), self.pid, self.jvm_pid)

    def add_cpu_split(self, prefix: str, o: dict, scale: float) -> None:
        for role, secs in o["cpu_by_role"].items():
            self.add(f"{prefix}.cpu_{role}", secs * scale)

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            self.failures.append(f"mismatch: {what}")

    def setup_done(self) -> None:
        self.e2e["setup_s"] = sum(self.cpu().values())
        self.layer["setup.wall_s"] = uptime() - self.process_start
        self.steal.start()
        self.measure_start = time.perf_counter()
        self.deadline = self.measure_start + self.seconds

    def time_left(self) -> bool:
        return time.perf_counter() < self.deadline

    def finish(self) -> None:
        self.measure_wall = time.perf_counter() - self.measure_start
        self.layer["host.steal_pct"] = self.steal.pct()
        self.layer["host.cpus"] = float(self.nproc)
        self.layer["trace.overhead_pct"] = self._trace_overhead_pct()

    def _trace_overhead_pct(self) -> float:
        """Time the span machinery itself (job-group set and restore,
        bookkeeping) on empty spans, times the spans this run recorded,
        as a share of the timed wall. The event-log writer runs on a
        JVM thread and is not in this figure."""
        if not self.trace:
            return 0.0
        timed = sum(1 for s in self.tracer.spans if s["start"] >= self.measure_start)
        kept, n = len(self.tracer.spans), 200
        t0 = time.perf_counter()
        for _ in range(n):
            with self.tracer.span("overhead_probe"):
                pass
        per_span = (time.perf_counter() - t0) / n
        del self.tracer.spans[kept:]
        return 100.0 * per_span * timed / self.measure_wall

    # --- event-log attribution (traced runs) ------------------------------

    def attribute_spans(self, log_dir: Path) -> dict:
        self.events = read_events(find_log(log_dir))
        groups = attribute(self.events)
        out = {}
        for s in self.tracer.spans:
            g = groups.get(s["id"])
            if g is None:
                continue
            lo, hi = s["start_epoch"] * 1e3, s["end_epoch"] * 1e3
            busy_ms = union_length(g.job_intervals_ms, lo, hi)
            out[s["id"]] = {"span": s, "g": g, "driver_ms": (hi - lo) - busy_ms}
        return out


def uptime() -> float:
    """Seconds since boot, on the clock /proc/<pid>/stat start times use."""
    return float(Path("/proc/uptime").read_text().split()[0])


def process_start_uptime() -> float:
    fields = Path("/proc/self/stat").read_text().rpartition(")")[2].split()
    return int(fields[19]) / procstat.CLK_TCK  # field 22: starttime


# --- inputs -------------------------------------------------------------------


def query_stream(n_pages: int, corpus_seed: int, rng: random.Random, count: int,
                 uid_pool: list[int]) -> list[dict]:
    """`count` queries over the corpus made with `corpus_seed`, in the
    class mix of `query_suite_extended` (per 40: 10 uid, 14 phrase,
    6 edge, 10 head). uid terms are drawn from `uid_pool` without
    replacement; a spent pool is refilled in a new order, so uid terms
    repeat only after every page has been drawn once."""
    from vexor_spark.sources.corpus import head_term_queries, page_record

    heads = [q["query"] for q in head_term_queries()]
    classes = ["uid"] * 10 + ["phrase"] * 14 + ["edge"] * 6 + ["head"] * 10
    spent: list[int] = []
    out = []
    for j in range(count):
        cls = classes[rng.randrange(len(classes))] if j % 40 else "head"
        if len(uid_pool) < 2:
            rng.shuffle(spent)
            uid_pool[:0] = spent
            spent.clear()
        if cls in ("uid", "phrase"):
            spent.append(uid_pool[-1])
        if cls == "uid":
            i = uid_pool.pop()
            q = f"uid_{i:06d}" if rng.random() < 0.6 else f"Page uid_{i:06d}"
        elif cls == "phrase":
            i = uid_pool.pop()
            words = [w for w in page_record(i, corpus_seed)["text"].split() if w.isalnum()]
            k = min(len(words), rng.randint(3, 6))
            q = " ".join(rng.sample(words, k)) + f" uid_{i:06d}"
        elif cls == "edge":
            i = uid_pool[-1]
            q = rng.choice([
                f"uid_{i:06d} uid_{i:06d} uid_{i:06d}",
                " ".join(f"filler{t}" for t in range(40)) + f" uid_{i:06d}",
                "搜索引擎",
                f"zzqq{rng.randrange(10**6)} notfoundterm",
            ])
        else:
            q = rng.choice(heads)
        out.append({"query": q, "cls": cls})
    return out


def by_class_pattern(stream: list[dict], pattern: tuple[str, ...]) -> list[dict]:
    """Reorder `stream` so classes follow `pattern` cyclically, for as
    long as every class still has queries left."""
    left: dict[str, list[dict]] = {}
    for q in stream:
        left.setdefault(q["cls"], []).append(q)
    out = []
    while True:
        for cls in pattern:
            if not left.get(cls):
                return out
            out.append(left[cls].pop(0))


def uid_pool(n_pages: int, rng: random.Random) -> list[int]:
    from vexor_spark.sources.corpus import _EDGE_BODIES, _LONG_BODY_INDEX

    ids = [i for i in range(n_pages) if i not in _EDGE_BODIES and i != _LONG_BODY_INDEX]
    rng.shuffle(ids)
    return ids


def term_reuse_ratio(queries: list[str]) -> float:
    """Share of query terms found among the last `TERM_CACHE_MAX`
    distinct terms seen (an LRU of the stream itself) — a property of
    the workload, not of the engine."""
    from vexor_spark.oracle.pyref import prepare_query_terms

    lru: OrderedDict = OrderedDict()
    hits = total = 0
    for q in queries:
        for t in prepare_query_terms(q):
            total += 1
            if t in lru:
                hits += 1
                lru.move_to_end(t)
            else:
                lru[t] = None
                if len(lru) > TERM_CACHE_MAX:
                    lru.popitem(last=False)
    return hits / total if total else 0.0


# --- shared measurements -----------------------------------------------------------


def dir_bytes(path: Path) -> tuple[int, int]:
    """(bytes, files) of the regular files under `path`, skipping the
    checksum and marker files Spark writes beside its data."""
    size = files = 0
    if path.exists():
        for p in path.rglob("*"):
            if p.is_file() and not p.name.startswith((".", "_")):
                size += p.stat().st_size
                files += 1
    return size, files


def posting_stats(index_dir: Path) -> tuple[int, int]:
    """(posting bytes, postings) over the base and any segment layers:
    bytes of the block files ÷ Σ n over their blocks."""
    import pyarrow.dataset as pads

    trees = [index_dir / "postings", index_dir / "segments" / "postings"]
    size = count = 0
    for root in trees:
        if not root.exists():
            continue
        size += dir_bytes(root)[0]
        ds = pads.dataset(str(root), format="parquet", partitioning="hive")
        count += int(sum(ds.to_table(columns=["n"]).column("n").to_pylist()))
    return size, count


def record_index_layout(b: Bench, index_dir: Path) -> None:
    size, count = posting_stats(index_dir)
    b.e2e["index_bytes_per_posting"] = size / count
    total_files = 0
    for sub in ("postings", "dict", "docs", "segments"):
        nbytes, nfiles = dir_bytes(index_dir / sub)
        b.layer[f"index.bytes.{sub}"] = float(nbytes)
        total_files += nfiles
    b.layer["index.files"] = float(total_files)


def top10_local(pidx, q: str) -> list[tuple[int, float]]:
    return [(int(d), round(float(s), 6)) for _, d, s in pidx.search_local(q, k=10)]


def rows_to_top(rows) -> list[tuple[int, float]]:
    ordered = sorted(rows, key=lambda r: r["rank"])
    return [(int(r["doc_id"]), round(float(r["score"]), 6)) for r in ordered]


def multi_to_top(rows) -> dict[str, list[tuple[int, float]]]:
    by_q: dict[str, list] = {}
    for r in rows:
        by_q.setdefault(r["query"], []).append(r)
    return {q: rows_to_top(rs) for q, rs in by_q.items()}


def summarize_shared(b: Bench) -> None:
    """Medians (a mean for `dist_cpu_ms`) of the samples both workloads
    take: writes, distributed queries, batches and catalog passes, and
    the CPU split of writes and queries."""
    for key in ("write_cpu_s", "catalog_cpu_s"):
        if key in b.samples:
            b.e2e[key] = benchstats.median(b.samples[key])
    # a mean, not a median: the queries follow a fixed mix of classes
    # whose costs differ by 2x, and a median of such a mix jumps between
    # classes from run to run
    if "dist_cpu_ms" in b.samples:
        b.e2e["dist_cpu_ms"] = statistics.mean(b.samples["dist_cpu_ms"])
    for name in CATALOG_ENTRIES:
        for m in ("s", "cpu_s"):
            xs = b.samples.get(f"catalog.{name}_{m}")
            if xs:
                b.layer[f"catalog.{name}_{m}"] = benchstats.median(xs)
    for metric, key in (("write.wall_s", "write_s"), ("dist.wall_p50_ms", "dist_ms"),
                        ("batch.wall_s", "batch_s"), ("batch.cpu_s", "batch_cpu_s")):
        if key in b.samples:
            b.layer[metric] = benchstats.median(b.samples[key])
    for key in ("dist.cpu_driver", "dist.cpu_jvm", "dist.cpu_workers",
                "write.cpu_driver", "write.cpu_jvm", "write.cpu_workers"):
        if key in b.samples:
            unit = "_ms" if key.startswith("dist") else "_s"
            b.layer[key + unit] = benchstats.median(b.samples[key])
    for cls in ("uid", "phrase", "edge", "head"):
        xs = b.samples.get(f"dist_ms.{cls}", [])
        if xs:
            b.layer[f"dist.{cls}_p50_ms"] = benchstats.median(xs)


def attribute_trace(b: Bench, attributed: dict) -> None:
    """Per-layer metrics from the event log: medians over the timed
    distributed queries (or probes), batches and builds."""
    def timed(*names: str) -> list[dict]:
        return [a for a in attributed.values() if a["span"]["name"] in names
                and a["span"]["start"] >= b.measure_start]

    def put(key: str, per: list[dict], value) -> None:
        if per:
            b.layer[key] = benchstats.median([value(a) for a in per])

    dist = timed("dist", "probe")
    put("dist.jobs", dist, lambda a: a["g"].jobs)
    put("dist.tasks", dist, lambda a: a["g"].tasks)
    put("dist.executor_cpu_ms", dist, lambda a: a["g"].cpu_ms)
    put("dist.shuffle_bytes", dist, lambda a: a["g"].shuffle_write_bytes)
    put("dist.driver_ms", dist, lambda a: a["driver_ms"])
    batches = timed("batch")
    put("batch.jobs", batches, lambda a: a["g"].jobs)
    put("batch.shuffle_bytes", batches, lambda a: a["g"].shuffle_write_bytes)
    builds = timed("build")
    put("build.shuffle_write_bytes", builds, lambda a: a["g"].shuffle_write_bytes)
    put("build.spill_bytes", builds, lambda a: a["g"].spill_bytes)
    put("build.gc_s", builds, lambda a: a["g"].gc_ms / 1e3)
    put("build.executor_cpu_s", builds, lambda a: a["g"].cpu_ms / 1e3)
    for name in CATALOG_ENTRIES:
        put(f"catalog.{name}_shuffle_bytes", timed(f"catalog.{name}"),
            lambda a: a["g"].shuffle_write_bytes)
    # the extract → chunk → doc-id stage is the build's first
    # `extract_s` seconds (its stage fence in the returned stage_secs)
    put("build.ids_shuffle_bytes", builds, lambda a: shuffle_write_of_jobs(
        b.events, a["span"]["id"], a["span"]["start_epoch"] * 1e3,
        (a["span"]["start_epoch"] + a["span"]["attrs"]["extract_s"]) * 1e3))


def wand_counters(b: Bench, searcher, queries: list[str]) -> None:
    """Pruning counters from the engine's `metrics=` dict. It runs extra
    count() jobs, so this pass is untimed and traced runs only."""
    for q in queries:
        m: dict = {}
        with b.op("wand_counters", timed=False, query=q):
            searcher.search_distributed(q, k=10, metrics=m).collect()
        b.layer["wand.engaged"] += 1.0 if m.get("pruned") else 0.0
        b.layer["wand.blocks_decoded"] += float(m.get("blocks_decoded", 0))
        b.layer["wand.blocks_total"] += float(m.get("blocks_total", 0))
        b.layer["wand.candidates"] += float(m.get("candidates", 0))


def write_pages(spark, records: list[dict], path: Path):
    """Write generated page records as the Parquet input the engine
    reads (with pyarrow: generating the input is not engine work)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
    ])
    path.mkdir(parents=True)
    pq.write_table(pa.Table.from_pylist(records, schema=schema), path / "part-0.parquet")
    return spark.read.parquet(str(path))


# --- catalog -----------------------------------------------------------------------


def write_catalog_tables(b: Bench) -> str:
    """The `documents` and `embeddings` tables the catalog entries read,
    as Parquet in the run directory: documents of 10-100 words drawn
    from `CATALOG_VOCAB`, and 64-dim float embeddings with 10 labels.
    Returns the directory to pass to the entries."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from vexor_spark.catalog_ext import EMB_DIM

    out = b.run_dir / "catalog"
    n_docs, n_vecs = CATALOG_DOCS_PER_CORE * b.nproc, CATALOG_VECS_PER_CORE * b.nproc
    rng = np.random.default_rng(b.seed)
    vocab = np.array(CATALOG_VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), size=n)])
             for n in rng.integers(10, 101, size=n_docs)]
    out.mkdir(parents=True)
    pq.write_table(pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "fr", "de"], size=n_docs).tolist(),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), out / "documents.parquet")
    vecs = (rng.standard_normal((n_vecs, EMB_DIM)) * 0.15).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            np.arange(0, vecs.size + 1, EMB_DIM, dtype=np.int32), vecs.ravel()),
        "label": rng.integers(0, 10, size=n_vecs).astype(np.int32),
    }), out / "embeddings.parquet")
    return str(out)


def catalog_entries() -> tuple[dict, dict]:
    """({name: Spark program}, {name: DuckDB oracle SQL})."""
    from vexor_spark import catalog, catalog_ext

    return ({**catalog.QUERIES, **catalog_ext.EXT_QUERIES},
            {**catalog.ORACLE_SQL, **catalog_ext.EXT_ORACLE_SQL})


def frames_match(got, want) -> bool:
    """Whether two pandas frames hold the same rows in any order: same
    column names, exact equality for non-floats, floats within 1e-9."""
    cols = sorted(got.columns)
    if cols != sorted(want.columns) or len(got) != len(want):
        return False
    a = got[cols].sort_values(by=cols).reset_index(drop=True)
    b = want[cols].sort_values(by=cols).reset_index(drop=True)
    for c in cols:
        for x, y in zip(a[c].tolist(), b[c].tolist()):
            if isinstance(x, float) or isinstance(y, float):
                same = (math.isnan(x) and math.isnan(y)) or math.isclose(
                    x, y, rel_tol=1e-9, abs_tol=1e-9)
            else:
                same = x == y
            if not same:
                return False
    return True


def catalog_oracle(b: Bench, names: tuple[str, ...], sf_dir: str) -> dict:
    """{entry: its DuckDB oracle SQL's answer}, and one untimed call of
    each entry, checked against it — the entries' warm-up."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        _, oracle_sql = catalog_entries()
        want = {name: con.execute(oracle_sql[name]).fetch_df() for name in names}
    finally:
        con.close()
    catalog_pass(b, want, sf_dir, timed=False)
    return want


def catalog_pass(b: Bench, want: dict, sf_dir: str, timed: bool = True) -> None:
    """Each entry once, its answer collected to the driver (a few dozen
    rows at most) and checked against its oracle answer."""
    programs, _ = catalog_entries()
    total = 0.0
    for name, expected in want.items():
        with b.op(f"catalog.{name}", timed=timed) as o:
            got = programs[name](b.spark, sf_dir).toPandas()
        b.check(frames_match(got, expected), f"catalog {name} vs its DuckDB oracle")
        if timed:
            b.add(f"catalog.{name}_s", o["wall_s"])
            b.add(f"catalog.{name}_cpu_s", o["cpu_s"])
            total += o["cpu_s"]
    if timed:
        b.add("catalog_cpu_s", total)


# --- serve -------------------------------------------------------------------------


def run_serve(b: Bench) -> None:
    """Build an index, then serve one seeded query stream over
    `search_local`, `search_distributed` and `search_distributed_multi`
    around a rebuild and this workload's catalog share. Reads do most
    of the work."""
    from vexor_spark.index.storage import PersistedIndex, build_and_write_index
    from vexor_spark.sources.corpus import generate_pages_local

    spark = b.spark
    n_pages = PAGES_PER_CORE * b.nproc
    t0 = time.perf_counter()
    records = generate_pages_local(n_pages, b.seed)
    pages = write_pages(spark, records, b.run_dir / "pages")
    rng = random.Random(b.seed * 7919 + 1)
    pool = uid_pool(n_pages, rng)
    streams = [query_stream(n_pages, b.seed, rng, n, pool)
               for n in (WARM_LOCAL_QUERIES, LOCAL_QUERIES)]
    dist_stream = by_class_pattern(query_stream(n_pages, b.seed, rng, 400, pool), DIST_ROUND)
    sf_dir = write_catalog_tables(b)
    b.layer["setup.corpus_s"] = time.perf_counter() - t0
    b.layer["serve.term_reuse_ratio"] = term_reuse_ratio(
        [q["query"] for s in streams for q in s])

    results: dict[str, list] = {}  # query -> top-10 seen on the timed paths
    local_seen: dict[str, list] = {}

    def build(idx: Path, timed: bool):
        with b.op("build", timed=timed) as o:
            summary = build_and_write_index(pages, idx, term_buckets=TERM_BUCKETS)
        if timed:
            b.add("write_s", o["wall_s"])
            b.add("write_cpu_s", o["cpu_s"])
            b.add_cpu_split("write", o, 1.0)
            st = summary["stage_secs"]
            b.add("build.extract_chunk_ids_s", st["extract_chunk_ids_doclen"])
            b.add("build.tf_encode_postings_s", st["tf_encode_write_postings"])
            b.add("build.dict_docs_write_s", st["dict_docs_stats_write"])
            if o["span"] is not None:
                o["span"]["attrs"]["extract_s"] = st["extract_chunk_ids_doclen"]
        return PersistedIndex(spark, idx)

    def local_pass(pidx, stream, timed: bool):
        for q in stream:
            c0 = time.process_time()
            with b.op("local", timed=False, query=q["query"]) as o:
                top = top10_local(pidx, q["query"])
            if timed:
                b.add("local_ms", o["wall_s"] * 1e3)
                b.add("local_cpu_ms", (time.process_time() - c0) * 1e3)
            local_seen[q["query"]] = top

    def dist(pidx, q, timed: bool):
        with b.op("dist", timed=timed, query=q["query"], cls=q["cls"]) as o:
            rows = pidx.search_distributed(q["query"], k=10).collect()
        top = rows_to_top(rows)
        if timed:
            b.add("dist_ms", o["wall_s"] * 1e3)
            b.add("dist_cpu_ms", o["cpu_s"] * 1e3)
            b.add_cpu_split("dist", o, 1e3)
            b.add(f"dist_ms.{q['cls']}", o["wall_s"] * 1e3)
        b.check(top == top10_local(pidx, q["query"]),
                f"search_distributed vs search_local on {q['query']!r}")
        results[q["query"]] = top

    def batch(pidx, queries: list[dict], timed: bool):
        qmap = {f"q{i:03d}": q["query"] for i, q in enumerate(queries)}
        with b.op("batch", timed=timed) as o:
            rows = pidx.search_distributed_multi(qmap, k=10).collect()
        if timed:
            b.add("batch_s", o["wall_s"])
            b.add("batch_cpu_s", o["cpu_s"])
        got = multi_to_top(rows)
        for key, q in qmap.items():
            b.check(got.get(key, []) == top10_local(pidx, q),
                    f"search_distributed_multi vs search_local on {q!r}")

    # full-size warm-up: one untimed pass of every timed call
    t0 = time.perf_counter()
    idx_dirs = [b.run_dir / "index_a", b.run_dir / "index_b"]
    pidx = build(idx_dirs[0], timed=False)
    local_pass(pidx, streams[0], timed=False)
    # a head-class query takes the WAND path, a uid one the plain path
    for cls in ("head", "uid"):
        dist(pidx, next(q for q in reversed(dist_stream) if q["cls"] == cls), timed=False)
    catalog_want = catalog_oracle(b, CATALOG_SHARE["serve"], sf_dir)
    b.layer["setup.warm_s"] = time.perf_counter() - t0
    b.setup_done()

    # a round: local reads, the catalog share, a build into the other
    # index directory, distributed reads of the new index, and last the
    # round's distributed queries as one batch. The distributed queries
    # follow the build, whose JVM work leaves their shared code compiled.
    # The batch is not warmed up: its first call's start-up lands in its
    # own (per-layer) figures and in no timed call after it.
    rounds = 0
    n_dist = len(DIST_ROUND)
    while rounds == 0 or b.time_left():
        with b.tracer.span("round", n=rounds):
            local_pass(pidx, streams[1], timed=True)
            catalog_pass(b, catalog_want, sf_dir)
            pidx = build(idx_dirs[(rounds + 1) % 2], timed=True)
            round_queries = dist_stream[rounds * n_dist:(rounds + 1) * n_dist]
            for q in round_queries:
                dist(pidx, q, timed=True)
            batch(pidx, round_queries, timed=True)
        rounds += 1
    b.finish()

    summarize_shared(b)
    local = b.samples["local_ms"]
    b.layer["local.p50_ms"] = benchstats.median(local)
    p = benchstats.supported_percentile(len(local))
    b.layer["local.p99_ms"] = benchstats.percentile(local, 99.0) if p and p >= 99 else 0.0
    b.layer["local.cpu_ms"] = benchstats.median(b.samples["local_cpu_ms"])
    for key in ("build.extract_chunk_ids_s", "build.tf_encode_postings_s",
                "build.dict_docs_write_s"):
        b.layer[key] = benchstats.median(b.samples[key])
    record_index_layout(b, pidx.dir)
    b.layer["build.files_written"] = b.layer["index.files"]

    if b.trace:
        driver_read_layers(b, pidx.dir, [q["query"] for q in streams[1][:40]])
        wand_counters(b, pidx, sorted({q["query"] for q in dist_stream if q["cls"] == "head"})[:3])

    # oracle: the dist queries and a seeded sample of local queries
    # must match the pure-Python reference on the same corpus
    verify_serve_oracle(b, records, results, local_seen, rng)


def driver_read_layers(b: Bench, index_dir: Path, queries: list[str]) -> None:
    """Driver-only read layers timed directly on a freshly opened index:
    dictionary lookup, block-metadata prefetch, and the numpy decode of
    the query's blocks."""
    import pyarrow.dataset as pads

    from vexor_spark.functions.codec import decode_blocks_np
    from vexor_spark.index.storage import PersistedIndex, term_buckets_for
    from vexor_spark.oracle.pyref import prepare_query_terms

    pidx = PersistedIndex(b.spark, index_dir)
    ds = pads.dataset(str(index_dir / "postings"), format="parquet", partitioning="hive")
    td, meta, dec = [], [], []
    for q in queries:
        terms = prepare_query_terms(q)
        if not terms:
            continue
        with b.op("storage.term_dict", timed=False) as o:
            pidx.term_dict(terms)
        td.append(o["wall_s"] * 1e3)
        with b.op("storage.block_meta", timed=False) as o:
            pidx.prefetch_theta_meta(terms)
        meta.append(o["wall_s"] * 1e3)
        buckets = sorted(set(term_buckets_for(b.spark, terms, pidx.term_buckets).values()))
        tbl = ds.to_table(
            columns=["blob", "n"],
            filter=pads.field("term_bucket").isin(buckets) & pads.field("term").isin(terms),
        )
        blobs, counts = tbl.column("blob").to_pylist(), tbl.column("n").to_pylist()
        with b.op("codec.decode_np", timed=False) as o:
            decode_blocks_np(blobs, counts)
        dec.append(o["wall_s"] * 1e3)
    b.layer["storage.term_dict_ms"] = benchstats.median(td)
    b.layer["storage.block_meta_ms"] = benchstats.median(meta)
    b.layer["codec.decode_np_ms"] = benchstats.median(dec)


def verify_serve_oracle(b: Bench, records: list[dict], results: dict, local_seen: dict,
                        rng: random.Random) -> None:
    from vexor_spark.oracle import pyref

    oracle = pyref.build_corpus_index([(r["url"], r["html"]) for r in records])
    sample = dict(results)
    local_keys = sorted(local_seen)
    for q in rng.sample(local_keys, min(50, len(local_keys))):
        sample[q] = local_seen[q]
    for q, got in sample.items():
        want = [(d, round(s, 6)) for d, s in pyref.search(oracle, q, k=10)]
        b.check(got == want, f"top-10 vs oracle.pyref on {q!r}")


# --- update ------------------------------------------------------------------------


def run_update(b: Bench) -> None:
    """A base index, then `update_index` cycles that each edit every
    page of one of the 32 input buckets (about 3% of pages), with probe
    queries through `SegmentedIndex` before and after each timed cycle,
    and this workload's catalog share. With `UPDATE_MAX_SEGMENTS` = 1
    every timed cycle writes a second delta layer and so compacts: its
    time holds the delta write and the compaction."""
    from pyspark.sql import functions as F

    from vexor_spark.index.checkpoint import _bucket_col
    from vexor_spark.index.delta import SegmentedIndex
    from vexor_spark.index.maintenance import update_index
    from vexor_spark.sources.corpus import (
        PAGES_SCHEMA,
        generate_pages_local,
        head_term_queries,
        page_record,
    )

    spark = b.spark
    n_pages = PAGES_PER_CORE * b.nproc
    work, idx = b.run_dir / "work", b.run_dir / "index"
    t0 = time.perf_counter()
    records = generate_pages_local(n_pages, b.seed)
    base = write_pages(spark, records, b.run_dir / "pages")
    sf_dir = write_catalog_tables(b)
    b.layer["setup.corpus_s"] = time.perf_counter() - t0
    rng = random.Random(b.seed * 7919 + 2)
    bucket_order = list(range(INPUT_BUCKETS))
    rng.shuffle(bucket_order)
    heads = [q["query"] for q in head_term_queries()]
    normal = set(uid_pool(n_pages, rng))  # pages with a regular body
    current = list(records)  # page i's current record
    bucket_of: dict[str, int] = {}
    edited: set[int] = set()
    version = 0

    def next_version():
        """Regenerate every page of the next bucket under a new seed.
        Returns the full current corpus."""
        nonlocal version
        version += 1
        bucket = bucket_order[(version - 1) % INPUT_BUCKETS]
        for i, rec in enumerate(records):
            if bucket_of[rec["url"]] == bucket:
                current[i] = page_record(i, b.seed * 1000 + version)
                edited.add(i)
        recs = [current[i] for i in sorted(edited)]
        urls = [r["url"] for r in recs]
        return base.filter(~F.col("url").isin(urls)).unionByName(
            spark.createDataFrame(recs, PAGES_SCHEMA))

    def cycle(pages, timed: bool):
        with b.op("update", timed=timed) as o:
            summary = update_index(pages, work, idx, term_buckets=TERM_BUCKETS,
                                   max_segments=UPDATE_MAX_SEGMENTS)
        if not timed:
            return
        b.add("write_s", o["wall_s"])
        b.add("write_cpu_s", o["cpu_s"])
        b.add_cpu_split("write", o, 1.0)
        route = summary["route"]
        if f"update.route_{route}" in b.layer:
            b.layer[f"update.route_{route}"] += 1.0
        if route == "delta":
            b.add("update.delta_s", float(summary.get("secs", 0.0)))
            b.add("update.docs_written", float(summary.get("docs_written", 0)))
            b.add("update.docs_tombstoned", float(summary.get("docs_tombstoned", 0)))
        b.check(summary.get("compaction") is not None, "compaction in a timed update cycle")
        if summary.get("compaction"):
            b.add("compact.secs", float(summary["compaction"].get("secs", 0.0)))
            b.add("compact.bytes_rewritten", float(sum(
                dir_bytes(idx / s)[0] for s in ("postings", "dict", "docs"))))

    def probes(timed: bool = True):
        """Alternating uid and phrase queries on edited pages, through
        the layered view."""
        seg = SegmentedIndex(spark, idx)
        layers = len(seg.seg_ids)
        qs = []
        for n, i in enumerate(rng.sample(sorted(edited & normal), PROBES)):
            if n % 2:
                words = [w for w in current[i]["text"].split() if w.isalnum()]
                phrase = " ".join(rng.sample(words, min(3, len(words))))
                qs.append({"query": f"{phrase} uid_{i:06d}", "cls": "phrase"})
            else:
                qs.append({"query": f"uid_{i:06d}", "cls": "uid"})
        seen = {}
        for q in qs:
            with b.op("probe", timed=timed, query=q["query"], layers=layers) as o:
                rows = seg.search_distributed(q["query"], k=10).collect()
            seen[q["query"]] = rows
            if not timed:
                continue
            b.add("dist_ms", o["wall_s"] * 1e3)
            b.add("dist_cpu_ms", o["cpu_s"] * 1e3)
            b.add_cpu_split("dist", o, 1e3)
            b.add(f"dist_ms.{q['cls']}", o["wall_s"] * 1e3)
            b.add(f"seg.dist_ms_{layers}", o["wall_s"] * 1e3)
            b.add("seg.layers", float(layers))
        return seg, seen

    def batch(seg, seen: dict, timed: bool):
        qmap = {f"q{n:03d}": q for n, q in enumerate(seen)}
        with b.op("batch", timed=timed) as o:
            rows = seg.search_distributed_multi(qmap, k=10).collect()
        if timed:
            b.add("batch_s", o["wall_s"])
            b.add("batch_cpu_s", o["cpu_s"])
        got = multi_to_top(rows)
        for key, q in qmap.items():
            b.check(got.get(key, []) == rows_to_top(seen[q]),
                    f"SegmentedIndex multi vs single on {q!r}")

    # warm-up: the base build runs stage 1, the full merge (the code a
    # compaction runs) and the Python workers at full size; one delta
    # cycle and probes warm the delta write and the layered reads. As
    # in serve, the batch is not warmed up and runs last in a round.
    t0 = time.perf_counter()
    cycle(base, timed=False)
    # input bucket of each page, asked of Spark once the JVM is warm
    bucket_of.update(
        (r["url"], int(r["b"])) for r in
        base.select("url", _bucket_col(F.col("url"), INPUT_BUCKETS).alias("b")).collect())
    cycle(next_version(), timed=False)
    probes(timed=False)
    catalog_want = catalog_oracle(b, CATALOG_SHARE["update"], sf_dir)
    warm_records = len(read_jsonl(work / "metrics.jsonl"))
    b.layer["setup.warm_s"] = time.perf_counter() - t0
    b.setup_done()

    # a round: the catalog share, probes through one delta layer, a
    # cycle that writes a second layer and so compacts, probes through
    # the compacted view, and a batch
    checks = []  # (doc keys of a view, corpus it holds, probe answers)
    rounds = 0
    while rounds == 0 or b.time_left():
        with b.tracer.span("round", n=rounds):
            if rounds:
                cycle(next_version(), timed=False)  # back to one delta layer
            catalog_pass(b, catalog_want, sf_dir)
            seg, seen = probes()
            checks.append((doc_keys(seg), list(current), seen))
            cycle(next_version(), timed=True)
            seg, seen = probes()
            batch(seg, seen, timed=True)
        rounds += 1
    b.finish()
    checks.append((doc_keys(seg), list(current), seen))

    summarize_shared(b)
    for key in ("compact.secs", "compact.bytes_rewritten", "update.delta_s",
                "update.docs_written", "update.docs_tombstoned", "seg.layers"):
        if key in b.samples:
            b.layer[key] = benchstats.median(b.samples[key])
    for n in range(UPDATE_MAX_SEGMENTS + 1):
        xs = b.samples.get(f"seg.dist_ms_{n}")
        if xs:
            b.layer[f"seg.dist_p50_ms_{n}"] = benchstats.median(xs)
    timed_stage1 = [r for r in read_jsonl(work / "metrics.jsonl")[warm_records:]
                    if r.get("stage") == "chunks"]
    if timed_stage1:
        b.layer["update.stage1_s"] = benchstats.median([r["secs"] for r in timed_stage1])
        b.layer["update.pages_rebuilt"] = benchstats.median(
            [r["pages_built"] for r in timed_stage1])
    record_index_layout(b, idx)

    if b.trace:
        wand_counters(b, seg, heads[:2])

    # oracle: the probe answers through the layered and the compacted
    # view against pyref on the corpus each view holds. Doc ids differ
    # between a layered view and a rebuild, so answers compare as
    # (url, chunk) keys with scores.
    for view, corpus, answers in checks:
        verify_update_oracle(b, view, corpus, answers)


def read_jsonl(path: Path) -> list[dict]:
    if not path.exists():
        return []
    return [json.loads(line) for line in path.read_text().splitlines() if line.strip()]


def doc_keys(seg) -> dict[int, tuple[str, int]]:
    """{doc id: (url, chunk index)} of a layered view."""
    return {
        int(r["doc_id"]): (r["url"], int(r["chunk_index"]))
        for r in seg.docs_view().select("doc_id", "url", "chunk_index").collect()
    }


def verify_update_oracle(b: Bench, view: dict, current: list[dict], seen: dict) -> None:
    from vexor_spark.oracle import pyref

    oracle = pyref.build_corpus_index([(r["url"], r["html"]) for r in current])
    key_of = {d[0]: (d[1], d[2]) for d in oracle["docs"]}
    for q, rows in seen.items():
        got = [(view.get(int(r["doc_id"])), round(float(r["score"]), 6))
               for r in sorted(rows, key=lambda r: r["rank"])]
        scores = pyref.score_postings(
            pyref.prepare_query_terms(q), oracle["postings"],
            oracle["doc_count"], oracle["avg_doc_len"])
        by_key = {key_of[d]: round(s, 6) for d, s in scores.items()}
        want = sorted(by_key.values(), reverse=True)[:10]
        # the same scores in the same order, each on a doc the oracle
        # scores identically (doc-id tie order may differ)
        ok = [s for _, s in got] == want and all(by_key.get(k) == s for k, s in got)
        b.check(ok, f"SegmentedIndex top-10 vs oracle.pyref on {q!r}")


WORKLOADS = {"serve": run_serve, "update": run_update}
