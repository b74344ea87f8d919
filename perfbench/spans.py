"""Spans recorded around the benchmark's own calls, and the Spark event-log
reader that supplies stage-level counters.

A span has a name, a start, an end and a parent. Spans stay in memory and
are written once, when the run ends. A span's self time is its duration
minus the part of it that its children cover. Spark jobs read from the
event log become child spans of the op span they ran inside (one op runs
at a time, so a job belongs to the op whose interval holds its submission).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def add(self, name: str, parent: int, start: float, end: float) -> None:
        self.spans.append({"id": len(self.spans), "name": name, "parent": parent,
                           "start": start, "end": end})

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def self_time(self, sid: int) -> float:
        s = self.spans[sid]
        return (s["end"] - s["start"]) - covered(
            [(c["start"], c["end"]) for c in self.children(sid)], s["start"], s["end"]
        )

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


_PY_IN = "data sent to Python workers"
_PY_OUT = "data returned from Python workers"


def read_event_log(log_dir: str) -> dict:
    """Jobs (with their tasks' counters) from the Spark event log in
    ``log_dir``. Call after the SparkContext stopped (the log is flushed)."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {"start": ev["Submission Time"] / 1e3, "end": None, "tasks": 0, "failed": 0,
                             "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0,
                             "py_in": 0, "py_out": 0}
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"]))
                if job is None:
                    continue
                job["tasks"] += 1
                if ev.get("Task End Reason", {}).get("Reason") != "Success":
                    job["failed"] += 1
                m = ev.get("Task Metrics") or {}
                job["run_s"] += m.get("Executor Run Time", 0) / 1e3
                job["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                job["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                job["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                for acc in ev.get("Task Info", {}).get("Accumulables", []):
                    if acc.get("Name") == _PY_IN:
                        job["py_in"] += int(acc.get("Update", 0))
                    elif acc.get("Name") == _PY_OUT:
                        job["py_out"] += int(acc.get("Update", 0))
    return jobs
