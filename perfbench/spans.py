"""Spans around the benchmark's own calls into each layer.

Every span measures its duration with ``perf_counter`` (the untimed and
the traced run share this). When tracing is on it also keeps name,
wall-clock start and end, parent and run id, plus the file-system
counters at both ends, in memory; ``finish`` attributes the status-store
events to spans by time window and writes everything out at once.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

import stats


class Span:
    __slots__ = ("dur",)

    def __init__(self):
        self.dur = 0.0


class Tracer:
    def __init__(self, run_id: str, enabled: bool, fs_counters=None):
        self.run_id = run_id
        self.enabled = enabled
        self._fs = fs_counters
        self.spans: list[dict] = []
        self._stack: list[int] = []
        #: seconds spent taking FS snapshots: the in-window cost of tracing
        self.cost = 0.0

    def _snapshot(self) -> dict:
        if not self._fs:
            return {}
        t0 = time.perf_counter()
        snap = self._fs()
        self.cost += time.perf_counter() - t0
        return snap

    @contextmanager
    def span(self, name: str, **attrs):
        sp = Span()
        rec = None
        if self.enabled:
            fs0 = self._snapshot()
            rec = {
                "id": len(self.spans),
                "name": name,
                "parent": self._stack[-1] if self._stack else None,
                "run": self.run_id,
                "start": time.time(),
                "fs0": fs0,
                **attrs,
            }
            self.spans.append(rec)
            self._stack.append(rec["id"])
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.dur = time.perf_counter() - t0
            if rec is not None:
                rec["end"] = rec["start"] + sp.dur
                rec["fs1"] = self._snapshot()
                self._stack.pop()

    def finish(self, stages: list[dict], jobs: list[dict], execs: list[dict]) -> list[dict]:
        """Attach per-span deltas: stages and SQL executions by completion
        time, jobs by submission time, FS counters by the span's own
        snapshots; then self times. Returns the finished spans."""
        self_t = stats.self_times(self.spans)
        by_stage = stats.attribute(self.spans, stages)
        by_job = stats.attribute(self.spans, jobs, key="start")
        by_exec = stats.attribute(self.spans, execs)
        for s in self.spans:
            s["self_s"] = self_t[s["id"]]
            st = by_stage[s["id"]]
            s["stages"] = len(st)
            s["jobs"] = len(by_job[s["id"]])
            for k in ("tasks", "run_s", "cpu_s", "shuffle_write_bytes", "shuffle_read_bytes"):
                s[k] = sum(x[k] for x in st)
            for k in ("scan.file_bytes", "scan.files", "python.run_s"):
                s[k] = sum(x[k] for x in by_exec[s["id"]])
            f0, f1 = s.pop("fs0"), s.pop("fs1")
            s["fs"] = {k: f1[k] - f0[k] for k in f0}
        return self.spans

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)
