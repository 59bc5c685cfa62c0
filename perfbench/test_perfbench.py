"""Tests for the benchmark's pure helpers. Run from the repo root:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

from pathlib import Path

import pytest

import benchstats
import eventlog
import procstat
import spans
import workloads

HERE = Path(__file__).resolve().parent


# --- percentile choice ------------------------------------------------------------


@pytest.mark.parametrize(
    "n, want",
    [(19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0), (9999, 99.0), (10000, 99.9)],
)
def test_supported_percentile_keeps_ten_samples_beyond(n, want):
    assert benchstats.supported_percentile(n) == want


def test_supported_percentile_has_min_beyond_samples():
    for n in range(1, 3000):
        p = benchstats.supported_percentile(n)
        if p is not None:
            assert n - benchstats.nearest_rank(n, p) >= benchstats.MIN_BEYOND


def test_nearest_rank_percentile():
    xs = [float(x) for x in range(100, 0, -1)]
    assert benchstats.percentile(xs, 50) == 50.0
    assert benchstats.percentile(xs, 99) == 99.0
    assert benchstats.percentile(xs, 100) == 100.0
    assert benchstats.percentile([7.0], 99) == 7.0


# --- process-tree CPU ---------------------------------------------------------------


def _stat(pid: int, comm: str, ppid: int, utime: int, stime: int, cutime: int, cstime: int) -> str:
    # fields after comm: state ppid pgrp session tty tpgid flags minflt
    # cminflt majflt cmajflt utime stime cutime cstime ...
    rest = ["S", ppid, pid, pid, 0, -1, 0, 0, 0, 0, 0, utime, stime, cutime, cstime, 20, 0, 1, 0, 123]
    return f"{pid} ({comm}) " + " ".join(str(x) for x in rest) + "\n"


def _fake_proc(root: Path, procs: list[tuple]) -> Path:
    for pid, comm, ppid, ut, st, cut, cst in procs:
        d = root / str(pid)
        d.mkdir(parents=True)
        (d / "stat").write_text(_stat(pid, comm, ppid, ut, st, cut, cst))
    (root / "self").mkdir(exist_ok=True)  # non-numeric entries are skipped
    return root


def test_parse_stat_handles_spaces_and_parens_in_comm():
    pid, ppid, ticks = procstat.parse_stat(_stat(42, "python3 (worker) x", 7, 10, 5, 3, 2))
    assert (pid, ppid, ticks) == (42, 7, 20)


def _tree_ticks(table, root: int, jvm: int) -> float:
    return sum(procstat.cpu_by_role(table, root, jvm).values())


def test_tree_cpu_sums_live_descendants_and_reaped_children(tmp_path, monkeypatch):
    monkeypatch.setattr(procstat, "CLK_TCK", 1)
    proc = _fake_proc(tmp_path / "proc", [
        (100, "python3", 1, 10, 5, 3, 2),   # driver: 20 ticks incl. reaped children
        (101, "java", 100, 400, 40, 0, 0),  # JVM
        (102, "python3 -m daemon", 101, 7, 3, 50, 10),  # daemon: 70 incl. exited workers
        (103, "python3 -m worker", 102, 30, 5, 0, 0),   # live worker
        (200, "unrelated", 1, 999, 999, 0, 0),
    ])
    table = procstat.read_proc_table(proc)
    assert procstat.descendants(table, 100) == {100, 101, 102, 103}
    assert _tree_ticks(table, 100, 101) == 20 + 440 + 70 + 35


def test_tree_cpu_is_continuous_when_a_child_is_reaped(tmp_path, monkeypatch):
    monkeypatch.setattr(procstat, "CLK_TCK", 1)
    before = procstat.read_proc_table(_fake_proc(tmp_path / "a", [
        (10, "drv", 1, 5, 5, 0, 0), (11, "jvm", 10, 50, 0, 0, 0),
        (12, "worker", 11, 20, 4, 0, 0),
    ]))
    # the worker exits and is reaped: its time moves into the JVM's cutime/cstime
    after = procstat.read_proc_table(_fake_proc(tmp_path / "b", [
        (10, "drv", 1, 5, 5, 0, 0), (11, "jvm", 10, 50, 0, 20, 4),
    ]))
    assert _tree_ticks(before, 10, 11) == _tree_ticks(after, 10, 11) == 84


def test_cpu_by_role_splits_driver_jvm_and_workers(tmp_path, monkeypatch):
    monkeypatch.setattr(procstat, "CLK_TCK", 10)
    table = procstat.read_proc_table(_fake_proc(tmp_path / "proc", [
        (100, "python3", 1, 10, 5, 3, 2),
        (101, "java", 100, 400, 40, 0, 0),
        (102, "python3 -m daemon", 101, 7, 3, 50, 10),
        (103, "python3 -m worker", 102, 30, 5, 0, 0),
    ]))
    assert procstat.cpu_by_role(table, 100, 101) == {"driver": 2.0, "jvm": 44.0, "workers": 10.5}


def test_steal_meter_reads_share_of_stolen_time(tmp_path):
    stat = tmp_path / "stat"
    stat.write_text("cpu  100 0 50 800 10 0 0 40 0 0\ncpu0 1 2 3\n")
    meter = procstat.StealMeter(stat)
    stat.write_text("cpu  150 0 70 900 10 0 0 60 0 0\ncpu0 1 2 3\n")
    # +20 steal out of +190 total
    assert meter.pct() == pytest.approx(100.0 * 20 / 190)


# --- spans and event-log attribution ------------------------------------------------


def test_union_length_merges_and_clips():
    assert spans.union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert spans.union_length([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2.0
    assert spans.union_length([], 0, 1) == 0


def test_attribute_recorded_event_log():
    """A log recorded on local[2] and trimmed to the fields read here:
    group `pb1` ran a groupBy count (a map and a reduce stage, two tasks
    each), `pb2` a two-task Parquet write, and one job ran outside any
    group."""
    events = eventlog.read_events(eventlog.find_log(HERE / "testdata" / "eventlog"))
    groups = eventlog.attribute(events)
    assert set(groups) == {"pb1", "pb2", ""}
    g1, g2, rest = groups["pb1"], groups["pb2"], groups[""]
    assert (g1.jobs, g1.stages, g1.tasks) == (1, 2, 4)
    assert (g2.jobs, g2.stages, g2.tasks) == (1, 1, 2)
    assert (rest.jobs, rest.tasks) == (1, 2)
    assert g1.shuffle_write_bytes == g1.shuffle_read_bytes == 266
    assert g2.shuffle_write_bytes == 0 and g2.output_bytes == 4977
    assert g1.run_ms == 657 and g2.run_ms == 1310
    assert g1.cpu_ms == pytest.approx(348.202871)
    assert g1.gc_ms == 52
    assert g1.job_intervals_ms == [(1792210922584.0, 1792210923306.0)]
    # every task is attributed exactly once
    n_tasks = sum(1 for e in events if e["Event"] == "SparkListenerTaskEnd")
    assert sum(g.tasks for g in groups.values()) == n_tasks
    # a window holding only pb1's job submission sees its shuffle
    lo, hi = g1.job_intervals_ms[0]
    assert eventlog.shuffle_write_of_jobs(events, "pb1", lo, lo) == 266
    assert eventlog.shuffle_write_of_jobs(events, "pb1", lo + 1, hi) == 0
    assert eventlog.shuffle_write_of_jobs(events, "pb2", lo, hi) == 0


def test_find_log_orders_rolling_parts(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    for n in (10, 2, 1):
        (app / f"events_{n}_local-1").write_text("")
    (app / "appstatus_local-1").write_text("")
    assert [p.name for p in eventlog.find_log(tmp_path)] == [
        "events_1_local-1", "events_2_local-1", "events_10_local-1"]


# --- catalog oracle comparison ------------------------------------------------------


def test_frames_match_ignores_row_order_and_float_noise():
    pd = pytest.importorskip("pandas")
    got = pd.DataFrame({"doc_id": [2, 1], "score": [0.5, 1.0 + 1e-12]})
    want = pd.DataFrame({"score": [1.0, 0.5], "doc_id": [1, 2]})
    assert workloads.frames_match(got, want)
    assert not workloads.frames_match(got, want.assign(score=[1.0, 0.6]))
    assert not workloads.frames_match(got, want.assign(doc_id=[1, 3]))
    assert not workloads.frames_match(got, want.iloc[:1])
    assert not workloads.frames_match(got, want.rename(columns={"score": "s"}))
