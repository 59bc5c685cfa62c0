"""vexor_spark benchmark: one seeded workload per process.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Workloads (see workloads.py): `serve` (build, then a query stream over
the three serving paths) and `update` (update_index cycles with probes
through the layered view), each with its share of the query catalog.
Each run starts one fresh Spark process on local[nproc] with its own
work, index and TMPDIR directories under `.perfbench_runs/`, removed at
exit. After set-up a run times one full round of its workload, and more
rounds while `--seconds` have not yet passed. `--trace 1` enables the Spark event
log and spans, and reports per-layer metrics instead of end-to-end ones;
its spans are kept in `.perfbench_traces/`.

The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
The process exits non-zero when any operation failed or any answer
disagreed with the oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
import uuid
from pathlib import Path

RUN_TAG = "PERFBENCH_RUN"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_environment(root: Path, run_dir: Path, tag: str) -> None:
    """Fresh per-run directories and environment, set before the JVM
    starts so every process it launches inherits them."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    # python workers are started by the JVM; without this they cannot
    # import vexor_spark when the checkout is not their cwd
    prior = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(root) + (os.pathsep + prior if prior else "")
    os.environ[RUN_TAG] = tag
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start_spark(nproc: int, run_dir: Path, trace: bool):
    from vexor_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
    }
    if trace:
        log_dir = run_dir / "eventlog"
        log_dir.mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir.as_uri(),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(
        f"local[{nproc}]", app_name="perfbench",
        shuffle_partitions=2 * nproc, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


def result_metrics(bench, names: dict[str, str]) -> dict:
    out = {}
    for name, unit in names.items():
        table = bench.e2e if name in bench.e2e else bench.layer
        out[name] = {"value": float(table.get(name, 0.0)), "unit": unit}
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    root = Path.cwd()
    here = Path(__file__).resolve().parent
    if not (root / "vexor_spark" / "__init__.py").exists():
        print("perfbench: run from the root of a vexor_spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(root))
    sys.path.insert(0, str(here))
    import procstat
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    process_start = workloads.process_start_uptime()
    nproc = len(os.sched_getaffinity(0))
    tag = uuid.uuid4().hex
    run_dir = root / ".perfbench_runs" / f"{args.workload}-{args.seed}-{tag[:8]}"
    prepare_environment(root, run_dir, tag)

    bench = None
    spark = None
    error = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(nproc, run_dir, bool(args.trace))
        bench = workloads.Bench(
            spark, run_dir, args.seed, args.seconds, bool(args.trace), process_start, nproc,
        )
        bench.layer["setup.jvm_s"] = time.perf_counter() - t0
        workloads.WORKLOADS[args.workload](bench)
    except Exception:
        error = traceback.format_exc()
    finally:
        if spark is not None:
            stop_spark(spark)
        killed = procstat.reap(RUN_TAG, tag)
        if killed:
            print(f"perfbench: killed {killed} leftover process(es)", file=sys.stderr)

    try:
        if error is None and args.trace:
            export_trace(bench, run_dir, root, args)
    except Exception:
        error = traceback.format_exc()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        runs = root / ".perfbench_runs"
        if runs.exists() and not any(runs.iterdir()):
            runs.rmdir()

    if error is not None or bench is None:
        print(error or "perfbench: no result", file=sys.stderr)
        if bench is not None:
            for f in bench.failures:
                print(f"perfbench: {f}", file=sys.stderr)
        return 1

    names = workloads.LAYER_UNITS if args.trace else workloads.E2E_UNITS
    metrics = result_metrics(bench, names)
    missing = [n for n in workloads.E2E_UNITS if not args.trace and n not in bench.e2e]
    for f in bench.failures:
        print(f"perfbench: {f}", file=sys.stderr)
    for name, m in metrics.items():
        n = len(bench.samples.get(SAMPLE_KEYS.get(name, name), [])) or 1
        print(f"{name:32s} {m['value']:14.4f} {m['unit']:8s} n={n}")
    correct = bench.failed == 0 and not missing
    if missing:
        print(f"perfbench: no samples for {missing}", file=sys.stderr)
    print(json.dumps({
        "correct": correct,
        "attempted": bench.attempted,
        "failed": bench.failed + len(missing),
        "metrics": metrics,
    }))
    return 0 if correct else 1


# the sample list behind each reported metric, for the printed counts
SAMPLE_KEYS = {
    "write_cpu_s": "write_cpu_s",
    "write.wall_s": "write_s",
    "dist_cpu_ms": "dist_cpu_ms",
    "dist.wall_p50_ms": "dist_ms",
    "batch.wall_s": "batch_s",
    "batch.cpu_s": "batch_cpu_s",
    "local.p50_ms": "local_ms",
    "local.p99_ms": "local_ms",
    "catalog_cpu_s": "catalog_cpu_s",
}


def export_trace(bench, run_dir: Path, root: Path, args) -> None:
    """Attribute event-log task metrics to spans, fill the per-layer
    metrics that come from them, and keep the spans."""
    import workloads

    attributed = bench.attribute_spans(run_dir / "eventlog")
    workloads.attribute_trace(bench, attributed)
    bench.tracer.dump(root / ".perfbench_traces" / f"{args.workload}-seed{args.seed}.jsonl")


if __name__ == "__main__":
    sys.exit(main())
