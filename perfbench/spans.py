"""Spans around the benchmark's calls into the library, and the fold of
Spark's event log onto those spans.

A span has a name, start, end, parent and the id of the operation it
belongs to.  While a span is open its id is the thread's Spark job group,
so every job the library starts inside it carries that group on its
``SparkListenerJobStart``.  A job without a group (for instance one run
from a pool thread that cleared it) is attributed to the innermost span
whose interval contains its submission time.

The fold reads an uncompressed, non-rolling event log (one JSON event per
line) after the session has stopped.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from typing import Optional

GROUP_PREFIX = "perfbench-span-"

# Spans whose Spark metrics are published, each as ``<span>.<metric>``
# for every key ``fold`` returns.
SPARK_SPANS = (
    "reader", "search", "writer", "iter", "dedup.exact", "dedup.minhash",
    "semdedup",
)
PY_RUN = "time to run Python workers"
PY_BOOT = "time to start Python workers"


class Tracer:
    """Records spans in memory.  ``set_groups`` is off for operations run
    only to measure tracing overhead: their spans still record intervals,
    but no job group is set."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.op: Optional[int] = None
        self.set_groups = True

    def _set_group(self, rec: Optional[dict]) -> None:
        if rec is None or not rec["grouped"]:
            for prop in ("spark.jobGroup.id", "spark.job.description"):
                self.sc.setLocalProperty(prop, None)
        else:
            self.sc.setJobGroup(GROUP_PREFIX + str(rec["id"]), rec["name"])

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op": self.op,
            "grouped": self.set_groups,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def read_event_log(path: str) -> tuple[dict, dict]:
    """Jobs and tasks from an event log.

    Returns ``(jobs, stages)``: ``jobs[id] = {group, submit, end, stages}``
    with times in epoch seconds; ``stages[id] = [task dict, ...]``.
    """
    jobs: dict[int, dict] = {}
    stages: dict[int, list] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "submit": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": ev.get("Stage IDs", []),
                }
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                acc = {
                    a.get("Name"): a.get("Update")
                    for a in info.get("Accumulables", [])
                }
                stages.setdefault(ev["Stage ID"], []).append(
                    {
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_ns": m.get("Executor CPU Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        ),
                        "spill": m.get("Disk Bytes Spilled", 0),
                        "py_run_ms": float(acc.get(PY_RUN) or 0),
                        "py_boot_ms": float(acc.get(PY_BOOT) or 0),
                    }
                )
    return jobs, stages


def attribute(spans: list[dict], jobs: dict) -> tuple[dict, int, int]:
    """Map job id -> span id.  Returns ``(job_span, by_interval,
    unattributed)``."""
    by_id = {s["id"]: s for s in spans}
    job_span: dict[int, int] = {}
    by_interval = unattributed = 0
    for jid, job in jobs.items():
        g = job["group"]
        if g and g.startswith(GROUP_PREFIX) and int(g[len(GROUP_PREFIX):]) in by_id:
            job_span[jid] = int(g[len(GROUP_PREFIX):])
            continue
        inside = [
            s for s in spans
            if s["start"] <= job["submit"] <= s.get("end", s["start"])
        ]
        if inside:
            job_span[jid] = max(inside, key=lambda s: s["start"])["id"]
            by_interval += 1
        else:
            unattributed += 1
    return job_span, by_interval, unattributed


def fold(spans: list[dict], jobs: dict, stages: dict, cores: int) -> dict:
    """Spark metrics per ``(operation, span name)`` for the names in
    ``SPARK_SPANS``, over every span of that name in the operation and
    each one's whole subtree."""
    job_span, _, _ = attribute(spans, jobs)
    stage_job: dict[int, int] = {}
    for jid in sorted(jobs):
        for sid in jobs[jid]["stages"]:
            stage_job.setdefault(sid, jid)
    children: dict[Optional[int], list[int]] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s["id"])
    span_jobs: dict[int, list[int]] = {}
    for jid, sid in job_span.items():
        span_jobs.setdefault(sid, []).append(jid)

    def subtree_jobs(sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.extend(span_jobs.get(cur, []))
            todo.extend(children.get(cur, []))
        return out

    groups: dict[tuple, list[dict]] = {}
    for s in spans:
        if s["name"] in SPARK_SPANS:
            groups.setdefault((s["op"], s["name"]), []).append(s)
    out = {}
    for key, group in groups.items():
        wall = sum(s["end"] - s["start"] for s in group)
        jids, job_time = [], 0.0
        for s in group:
            own = subtree_jobs(s["id"])
            jids.extend(own)
            job_time += _union_len(
                [
                    (max(jobs[j]["submit"], s["start"]),
                     min(jobs[j]["end"] or s["end"], s["end"]))
                    for j in own
                ]
            )
        jset = set(jids)
        tasks_by_stage = [
            stages.get(st, []) for st, j in stage_job.items() if j in jset
        ]
        tasks = [t for ts in tasks_by_stage for t in ts]
        run_s = sum(t["run_ms"] for t in tasks) / 1e3
        skew = 1.0
        for ts in tasks_by_stage:
            if len(ts) >= 2:
                med = statistics.median(t["run_ms"] for t in ts)
                skew = max(skew, max(t["run_ms"] for t in ts) / max(med, 1.0))
        out[key] = {
            "jobs": len(jids),
            "tasks": len(tasks),
            "exec_run_s": run_s,
            "exec_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
            "shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / 2**20,
            "spill_mb": sum(t["spill"] for t in tasks) / 2**20,
            "task_skew": skew,
            "python_s": sum(t["py_run_ms"] for t in tasks) / 1e3,
            "python_boot_s": sum(t["py_boot_ms"] for t in tasks) / 1e3,
            "driver_s": max(wall - job_time, 0.0),
            "core_util": run_s / (wall * cores) if wall > 0 else 0.0,
        }
    return out
