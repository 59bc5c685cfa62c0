"""CPU and steal accounting from /proc (no psutil).

Process-tree CPU is `utime+stime+cutime+cstime` summed over a root
process and all its live descendants: the driver, the JVM it launched,
the pyspark daemon and its workers. The `cutime+cstime` terms keep the
CPU of children that already exited and were reaped, so a worker that
ends between two readings is still counted.
"""

from __future__ import annotations

import os
import signal
import time
from pathlib import Path

CLK_TCK = os.sysconf("SC_CLK_TCK")


def parse_stat(text: str) -> tuple[int, int, int]:
    """(pid, ppid, cpu ticks incl. reaped children) from a
    /proc/<pid>/stat line. The command name may hold spaces and
    parentheses, so fields are split after its last ')'."""
    head, _, tail = text.rpartition(")")
    pid = int(head.split("(", 1)[0])
    fields = tail.split()
    # fields[0] is state (field 3); utime..cstime are fields 14..17
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return pid, ppid, utime + stime + cutime + cstime


def read_proc_table(proc_root: str | Path = "/proc") -> dict[int, tuple[int, int]]:
    """{pid: (ppid, cpu_ticks)} for every readable process."""
    table: dict[int, tuple[int, int]] = {}
    root = Path(proc_root)
    for name in os.listdir(root):
        if not name.isdigit():
            continue
        try:
            pid, ppid, ticks = parse_stat((root / name / "stat").read_text())
        except (OSError, ValueError, IndexError):  # exited between listdir and read
            continue
        table[pid] = (ppid, ticks)
    return table


def descendants(table: dict[int, tuple[int, int]], root_pid: int) -> set[int]:
    """root_pid and every live process below it."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = set(), [root_pid]
    while todo:
        pid = todo.pop()
        if pid in out:
            continue
        out.add(pid)
        todo.extend(children.get(pid, ()))
    return out & (set(table) | {root_pid})


def cpu_by_role(table: dict[int, tuple[int, int]], root_pid: int, jvm_pid: int) -> dict[str, float]:
    """Process-tree CPU seconds split three ways: the Python driver
    (`root_pid` itself), the JVM it launched, and everything below the
    JVM (the pyspark daemon and its Python workers)."""
    workers = descendants(table, jvm_pid) - {jvm_pid}
    driver = table[root_pid][1] if root_pid in table else 0
    jvm = table[jvm_pid][1] if jvm_pid in table else 0
    return {
        "driver": driver / CLK_TCK,
        "jvm": jvm / CLK_TCK,
        "workers": sum(table[p][1] for p in workers if p in table) / CLK_TCK,
    }


class StealMeter:
    """Share of host CPU time stolen by the hypervisor between
    `start()` and `pct()`, from the aggregate `cpu` line of /proc/stat."""

    def __init__(self, stat_path: str | Path = "/proc/stat"):
        self.stat_path = Path(stat_path)
        self.start()

    def _read(self) -> tuple[int, int]:
        line = self.stat_path.read_text().splitlines()[0].split()
        vals = [int(x) for x in line[1:9]]  # user..steal; guest is in user
        return vals[7], sum(vals)

    def start(self) -> None:
        self._steal0, self._total0 = self._read()

    def pct(self) -> float:
        steal, total = self._read()
        dt = total - self._total0
        return 100.0 * (steal - self._steal0) / dt if dt > 0 else 0.0


def processes_with_env(key: str, value: str, proc_root: str | Path = "/proc") -> list[int]:
    """Pids (other than this one) whose environment carries key=value —
    how a run finds every process it started, even those re-parented
    after their parent exited."""
    needle = f"{key}={value}".encode()
    me, out = os.getpid(), []
    root = Path(proc_root)
    for name in os.listdir(root):
        if not name.isdigit() or int(name) == me:
            continue
        try:
            env = (root / name / "environ").read_bytes()
        except OSError:
            continue
        if needle in env.split(b"\0"):
            out.append(int(name))
    return out


def reap(key: str, value: str, timeout: float = 20.0) -> int:
    """Wait for every process tagged key=value to end; SIGKILL what is
    left after `timeout`. Returns how many had to be killed."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if not processes_with_env(key, value):
            return 0
        time.sleep(0.2)
    left = processes_with_env(key, value)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    kill_deadline = time.monotonic() + 10.0
    while processes_with_env(key, value) and time.monotonic() < kill_deadline:
        time.sleep(0.1)
    return len(left)
