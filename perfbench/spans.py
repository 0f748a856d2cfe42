"""Spans recorded around calls into the package, and the fold of Spark's
event log onto them.

A span is (id, name, start, end, parent, request).  Spans live in memory;
the run writes them out when it ends.  Each span labels the Spark jobs it
submits with ``setJobGroup(span_id)``, and the fold attributes a job to a
span by that group.  Jobs submitted from a thread that sets its own group
(Structured Streaming's micro-batch thread) go to the ``by_time`` span
whose interval holds their submission time.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder.  ``enabled=False`` makes :meth:`span` a
    plain timer, so traced and untraced operations share one code path."""

    def __init__(self, spark=None, enabled: bool = True):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, request: str | None = None, by_time: bool = False):
        """Time a block; when enabled, record it and label its jobs."""
        rec = {"name": name, "request": request, "start": time.time()}
        if not self.enabled:
            try:
                yield rec
            finally:
                rec["end"] = time.time()
            return
        stack = self._stack
        rec["id"] = f"s{next(self._ids)}"
        rec["parent"] = stack[-1]["id"] if stack else None
        rec["by_time"] = by_time
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(rec["id"], name)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if prev is not None:
                sc.setJobGroup(prev, "")
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)


# --------------------------------------------------------------------------
# event-log fold


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _scan_row_accumulators(plan: dict, out: set[int]) -> None:
    if plan.get("nodeName", "").startswith("Scan"):
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(int(m["accumulatorId"]))
    for child in plan.get("children", []):
        _scan_row_accumulators(child, out)


def read_event_log(log_dir: str) -> dict:
    """Jobs (id → submit, end, group, stages) and per-stage task totals
    from one application's uncompressed, non-rolling event log."""
    paths = sorted(glob.glob(os.path.join(log_dir, "*")))
    if not paths:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    scan_accs: set[int] = set()
    tasks: list[dict] = []
    with open(paths[-1]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                jobs[jid] = {
                    "submit": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "group": props.get("spark.jobGroup.id"),
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                info = ev.get("Task Info") or {}
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                rows = 0.0
                for acc in info.get("Accumulables", []):
                    if acc.get("ID") in scan_accs:
                        rows += _num(acc.get("Update"))
                tasks.append({
                    "stage": ev["Stage ID"],
                    "busy": (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0,
                    "run": _num(m.get("Executor Run Time")) / 1000.0,
                    "cpu": _num(m.get("Executor CPU Time")) / 1e9,
                    "gc": _num(m.get("JVM GC Time")) / 1000.0,
                    "shuffle": _num(sw.get("Shuffle Bytes Written")),
                    "spill": _num(m.get("Disk Bytes Spilled")),
                    "scan_rows": rows,
                })
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _scan_row_accumulators(ev.get("sparkPlanInfo") or {}, scan_accs)
    for t in tasks:
        t["job"] = stage_job.get(t["stage"])
    return {"jobs": jobs, "tasks": tasks}


def _union_length(intervals: list[tuple[float, float]]) -> float:
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


def fold(spans: list[dict], log: dict, cores: int) -> dict[str, dict]:
    """Per-span Spark totals over the span and its descendants: jobs,
    wall, driver gap (wall minus the union of the jobs' intervals), idle
    core-seconds inside job time, executor run/CPU/GC seconds,
    shuffle-write and spill bytes, and rows read by scans."""
    ids = {s["id"] for s in spans}
    by_span: dict[str, list[int]] = {}
    timed = [s for s in spans if s.get("by_time")]
    for jid, j in log["jobs"].items():
        if j["group"] in ids:
            by_span.setdefault(j["group"], []).append(jid)
            continue
        for s in timed:
            if s["start"] <= j["submit"] <= s["end"]:
                by_span.setdefault(s["id"], []).append(jid)
                break
    kids: dict[str, list[str]] = {}
    for s in spans:
        if s.get("parent"):
            kids.setdefault(s["parent"], []).append(s["id"])

    def subtree_jobs(sid: str) -> list[int]:
        out = list(by_span.get(sid, []))
        for k in kids.get(sid, []):
            out += subtree_jobs(k)
        return out

    tasks_by_job: dict[int, list[dict]] = {}
    for t in log["tasks"]:
        tasks_by_job.setdefault(t["job"], []).append(t)
    out: dict[str, dict] = {}
    for s in spans:
        jids = subtree_jobs(s["id"])
        ivals = [(log["jobs"][j]["submit"], log["jobs"][j]["end"] or s["end"]) for j in jids]
        busy = _union_length(ivals)
        ts = [t for j in jids for t in tasks_by_job.get(j, [])]
        wall = s["end"] - s["start"]
        out[s["id"]] = {
            "jobs": len(jids),
            "wall_s": wall,
            "job_busy_s": busy,
            "driver_gap_s": max(0.0, wall - busy),
            "idle_core_s": max(0.0, cores * busy - sum(t["busy"] for t in ts)),
            "run_s": sum(t["run"] for t in ts),
            "cpu_s": sum(t["cpu"] for t in ts),
            "gc_s": sum(t["gc"] for t in ts),
            "shuffle_bytes": sum(t["shuffle"] for t in ts),
            "spill_bytes": sum(t["spill"] for t in ts),
            "scan_rows": sum(t["scan_rows"] for t in ts),
        }
    return out
