"""In-memory spans around calls into the engine's layers.

Each span sets the Spark job group to its own id for the calls it
wraps, so `eventlog.attribute` can hand every task's metrics back to
the span that caused it. Spans record wall and driver-CPU intervals,
their parent and a request id shared by the spans of one request; they
are kept in memory and written out once, at the end of the run.
With tracing off, `span` records nothing and touches no Spark state.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from pathlib import Path

GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark_context, enabled: bool):
        self.sc = spark_context
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)

    def _set_group(self, span: dict | None) -> None:
        self.sc.setLocalProperty(GROUP_KEY, span["id"] if span else None)

    @contextmanager
    def span(self, name: str, **attrs):
        """Record one span around the calls made inside the `with`."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = f"pb{next(self._ids)}"
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": parent["request"] if parent else sid,
            "attrs": attrs,
        }
        self._stack.append(rec)
        self._set_group(rec)
        rec["start_epoch"] = time.time()
        rec["start"] = time.perf_counter()
        c0 = time.process_time()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["end_epoch"] = time.time()
            rec["driver_cpu_s"] = time.process_time() - c0
            rec["wall_s"] = rec["end"] - rec["start"]
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(rec)

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
