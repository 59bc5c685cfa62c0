"""Attribute Spark event-log task metrics to benchmark spans.

Every stage carries the job group of the job that submitted it (the
`Properties` of `SparkListenerStageSubmitted`, falling back to the
job's). Each `SparkListenerTaskEnd` is added to the group of its stage,
and each job's submit/complete interval is kept so a span's driver-only
time (wall while none of its jobs runs) can be computed.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class GroupMetrics:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    job_intervals_ms: list = field(default_factory=list)


def read_events(paths: list[Path]) -> list[dict]:
    events = []
    for path in paths:
        with Path(path).open() as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def find_log(log_dir: Path) -> list[Path]:
    """The event files of the one application logged in `log_dir`, in
    order: a single file, or the `events_<n>_*` parts of a rolling
    (`eventlog_v2_*`) log directory."""
    apps = [p for p in Path(log_dir).iterdir() if not p.name.startswith(".")]
    if len(apps) != 1:
        raise FileNotFoundError(f"expected one event log in {log_dir}, found {len(apps)}")
    app = apps[0]
    if app.is_file():
        return [app]
    parts = [p for p in app.iterdir() if p.name.startswith("events_")]
    return sorted(parts, key=lambda p: int(p.name.split("_")[1]))


def attribute(events: list[dict]) -> dict[str, GroupMetrics]:
    """{job group id: metrics of every task its jobs ran}. Jobs with no
    group are filed under the empty string."""
    out: dict[str, GroupMetrics] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_submit: dict[int, float] = {}

    def grp(g: str) -> GroupMetrics:
        return out.setdefault(g, GroupMetrics())

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get(GROUP_KEY) or ""
            jid = ev["Job ID"]
            job_group[jid] = g
            job_submit[jid] = float(ev.get("Submission Time", 0))
            grp(g).jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_submit:
                grp(job_group[jid]).job_intervals_ms.append(
                    (job_submit[jid], float(ev.get("Completion Time", job_submit[jid])))
                )
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            g = (ev.get("Properties") or {}).get(GROUP_KEY)
            if g is not None:
                stage_group[sid] = g
            grp(stage_group.get(sid, "")).stages += 1
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            g = grp(stage_group.get(ev["Stage ID"], ""))
            g.tasks += 1
            g.run_ms += m.get("Executor Run Time", 0)
            g.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
            g.gc_ms += m.get("JVM GC Time", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            g.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            g.spill_bytes += m.get("Disk Bytes Spilled", 0)
            g.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return out


def shuffle_write_of_jobs(events: list[dict], group: str, lo_ms: float, hi_ms: float) -> int:
    """Shuffle bytes written by the tasks of `group`'s jobs submitted
    within [lo_ms, hi_ms] — one stage window of a multi-stage call."""
    stages = {
        sid
        for e in events
        if e.get("Event") == "SparkListenerJobStart"
        and (e.get("Properties") or {}).get(GROUP_KEY) == group
        and lo_ms <= e.get("Submission Time", 0) <= hi_ms
        for sid in e.get("Stage IDs", [])
    }
    return sum(
        ((e.get("Task Metrics") or {}).get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        for e in events
        if e.get("Event") == "SparkListenerTaskEnd" and e["Stage ID"] in stages
    )
