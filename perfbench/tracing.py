"""Traced-run plumbing: in-memory spans around calls into the engine's public
functions, and per-job-group figures read back from Spark's event log.

Spans are recorded from the benchmark's own code only: ``Tracer.wrap``
replaces a module or class attribute with a timing wrapper while a traced
operation runs, and ``restore`` puts the original back. Each operation runs
under its own Spark job group, so the event log splits cleanly per operation.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.op_id: str | None = None
        self._stack: list[int] = []
        self._patched: list[tuple] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name, "op_id": self.op_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str, capture=None) -> None:
        """Time every call of ``owner.attr`` as span ``name``; ``capture``
        (args, kwargs) -> dict adds fields to the span."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                if capture is not None:
                    rec.update(capture(args, kwargs))
                return original(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, original))

    def restore(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    def total(self, name: str, op_id: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["op_id"] == op_id)

    def count(self, name: str, op_id: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name and s["op_id"] == op_id)

    def find(self, name: str, op_id: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["op_id"] == op_id]

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children cover
        (children of one span run one after another in this client)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child[s["id"]]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e > end:
            total += e - max(s, end)
            end = e
    return total


class GroupStats:
    """What one job group cost Spark, summed over its completed stages."""

    def __init__(self):
        self.jobs: list[tuple[float, float]] = []
        self.stages = 0
        self.stage_wall_s = 0.0
        self.tasks = 0
        self.task_s = 0.0
        self.shuffle_write = 0
        self.shuffle_read = 0
        self.spill = 0
        self.pandas_group_task_s = 0.0   # stages running applyInPandas
        self.pre_shuffle_task_s = 0.0    # stages that read no shuffle
        self.post_shuffle_task_s = 0.0   # stages that read one

    @property
    def action_s(self) -> float:
        return _union_length(self.jobs)


def parse_eventlog(evdir: str) -> dict[str, GroupStats]:
    """Job group -> GroupStats, from every event log under ``evdir`` (the
    same line-by-line JSON reading as tools/scaling_bench._parse_eventlog,
    keyed by the ``spark.jobGroup.id`` property of each job and stage)."""
    groups: dict[str, GroupStats] = {}
    stage_group: dict[int, str] = {}
    job_start: dict[int, tuple[str, float]] = {}
    stage_tasks: dict[int, list[tuple[float, int, int, int]]] = {}
    completed: list[dict] = []
    files = sorted(glob.glob(os.path.join(evdir, "*", "events_*")))
    files += [f for f in glob.glob(os.path.join(evdir, "*")) if os.path.isfile(f)]
    for path in files:
        with open(path, errors="ignore") as fh:
            for line in fh:
                try:
                    e = json.loads(line)
                except json.JSONDecodeError:
                    continue
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    job_start[e["Job ID"]] = (g, e["Submission Time"] / 1000)
                elif ev == "SparkListenerJobEnd" and e["Job ID"] in job_start:
                    g, t0 = job_start.pop(e["Job ID"])
                    groups.setdefault(g, GroupStats()).jobs.append((t0, e["Completion Time"] / 1000))
                elif ev == "SparkListenerStageSubmitted":
                    props = e.get("Properties") or {}
                    stage_group[e["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id") or ""
                elif ev == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    rd = m.get("Shuffle Read Metrics") or {}
                    stage_tasks.setdefault(e["Stage ID"], []).append((
                        m.get("Executor Run Time", 0) / 1000,
                        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                        rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    ))
                elif ev == "SparkListenerStageCompleted":
                    completed.append(e["Stage Info"])
    for si in completed:
        sid = si["Stage ID"]
        g = groups.setdefault(stage_group.get(sid, ""), GroupStats())
        tasks = stage_tasks.get(sid, [])
        run_s = sum(t[0] for t in tasks)
        read = sum(t[2] for t in tasks)
        g.stages += 1
        sub, comp = si.get("Submission Time"), si.get("Completion Time")
        if sub is not None and comp is not None:
            g.stage_wall_s += (comp - sub) / 1000
        g.tasks += len(tasks)
        g.task_s += run_s
        g.shuffle_write += sum(t[1] for t in tasks)
        g.shuffle_read += read
        g.spill += sum(t[3] for t in tasks)
        scopes = {json.loads(r["Scope"]).get("name") for r in si.get("RDD Info", []) if r.get("Scope")}
        if "FlatMapGroupsInPandas" in scopes:
            g.pandas_group_task_s += run_s
        if read:
            g.post_shuffle_task_s += run_s
        else:
            g.pre_shuffle_task_s += run_s
    return groups


def merged(groups: dict[str, GroupStats], names: list[str]) -> GroupStats:
    """One GroupStats over several job groups."""
    out = GroupStats()
    for n in names:
        g = groups.get(n)
        if g is None:
            continue
        out.jobs += g.jobs
        for attr in ("stages", "stage_wall_s", "tasks", "task_s", "shuffle_write",
                     "shuffle_read", "spill", "pandas_group_task_s",
                     "pre_shuffle_task_s", "post_shuffle_task_s"):
            setattr(out, attr, getattr(out, attr) + getattr(g, attr))
    return out
