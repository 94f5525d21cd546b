"""Tracing from outside the engine: spans, job groups, the event log.

Spans are kept in memory and written out when the run ends. Spark's
own accounting comes from two public sources: the job ids that
``SparkContext.statusTracker()`` lists per job group, and the event
log (JSON lines) that ``spark.eventLog.enabled`` writes, parsed here
with the standard library.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict

PY_WORKER_METRICS = ("data sent to Python workers", "data returned from Python workers")


class Tracer:
    """Records ``(name, start, end, parent, op)`` spans when enabled;
    a disabled tracer's ``span`` costs one branch."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None}
        if op is None and rec["parent"] is not None:
            op = self.spans[rec["parent"]]["op"]
        rec["op"] = op
        self.spans.append(rec)
        self._stack.append(sid)
        rec["start"] = time.time()
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str):
        """Replace ``owner.attr`` by a spanned wrapper; returns an undo."""
        fn = getattr(owner, attr)

        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(owner, attr, traced)
        return lambda: setattr(owner, attr, fn)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its direct
        children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)


@contextlib.contextmanager
def job_group(sc, group: str | None):
    """Tag the Spark jobs started inside the block with ``group``."""
    if group is None:
        yield
        return
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def group_job_ids(sc, group: str) -> list[int]:
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, job intervals (epoch s) and
    summed task metrics, from the event log files under ``log_dir``."""
    groups: dict[str, dict] = defaultdict(
        lambda: defaultdict(float, intervals=[], jobs=0, stages=set())
    )
    job_group_of: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is None:
                        continue
                    jid = ev["Job ID"]
                    job_group_of[jid] = g
                    job_start[jid] = ev["Submission Time"] / 1000.0
                    groups[g]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_group_of:
                        groups[job_group_of[jid]]["intervals"].append(
                            (job_start[jid], ev["Completion Time"] / 1000.0)
                        )
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    if g is None:
                        continue
                    rec = groups[g]
                    rec["stages"].add(ev["Stage ID"])
                    rec["tasks"] += 1
                    info = ev.get("Task Info") or {}
                    rec["failed_tasks"] += bool(info.get("Failed"))
                    m = ev.get("Task Metrics") or {}
                    rec["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    rec["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    rec["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    sr = m.get("Shuffle Read Metrics") or {}
                    rec["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    rec["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    rec["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    for acc in info.get("Accumulables", []):
                        if acc.get("Name") in PY_WORKER_METRICS:
                            rec["python_worker_b"] += float(acc.get("Update") or 0)
    out = {}
    for g, rec in groups.items():
        d = dict(rec)
        d["stages"] = len(rec["stages"])
        out[g] = d
    return out


def driver_only_s(wall: tuple[float, float], intervals: list[tuple[float, float]]) -> float:
    """Op wall time not covered by any of its Spark jobs."""
    a, b = wall
    inside = [(max(a, s), min(b, e)) for s, e in intervals if e > a and s < b]
    return max(0.0, (b - a) - _union_s(inside))


def vm_hwm_mb(pid: int | str = "self") -> float:
    """High-water resident set (VmHWM) of a process, in MB."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0
