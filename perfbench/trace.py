"""Span recorder and Spark event-log reader for the benchmark's traced run.

A span names one call into a layer. Entering it sets the Spark job group to
the span id, so every job the call submits carries that id in the event log;
leaving it restores the enclosing span's group. Spans stay in memory until
the traced run ends.

The event-log reader turns Spark's JSON event log (``spark.eventLog.enabled``)
into per-job-group counters: jobs, stages, tasks, executor run time, shuffle
write and spill, plus the job intervals the driver-gap figure needs.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

GROUP_KEY = "spark.jobGroup.id"


class SpanRecorder:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1]["id"] if self._stack else None
        rec = {"id": f"span{len(self.spans)}:{name}", "name": name, "parent": parent}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty(GROUP_KEY, None)
            else:
                self.sc.setJobGroup(parent, parent.split(":", 1)[1])

    def get(self, name: str) -> dict | None:
        """The last span recorded under ``name``."""
        for rec in reversed(self.spans):
            if rec["name"] == name:
                return rec
        return None


def _new_group() -> dict:
    return {"jobs": 0, "stages": 0, "tasks": 0, "executor_ms": 0,
            "shuffle_write_bytes": 0, "spill_bytes": 0, "job_intervals": []}


def parse_event_log(path: str) -> dict[str | None, dict]:
    """Per-job-group counters from one Spark JSON event log file.

    Jobs and their intervals come from JobStart/JobEnd; a stage counts once,
    under the group of the job that submitted it (StageSubmitted carries the
    submitting job's properties), and only if it ran (StageCompleted).
    Task counters come from TaskEnd's Task Metrics. Jobs with no group are
    reported under ``None``."""
    groups: dict[str | None, dict] = {}
    job_group: dict[int, str | None] = {}
    job_start: dict[int, int] = {}
    stage_group: dict[int, str | None] = {}

    def g(key):
        return groups.setdefault(key, _new_group())

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                grp = (ev.get("Properties") or {}).get(GROUP_KEY)
                job_group[jid] = grp
                job_start[jid] = ev["Submission Time"]
                g(grp)["jobs"] += 1
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_start:
                    g(job_group[jid])["job_intervals"].append(
                        (job_start[jid], ev["Completion Time"])
                    )
            elif kind == "SparkListenerStageSubmitted":
                sid = ev["Stage Info"]["Stage ID"]
                stage_group[sid] = (ev.get("Properties") or {}).get(GROUP_KEY)
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                g(stage_group.get(sid))["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                rec = g(stage_group.get(ev["Stage ID"]))
                rec["tasks"] += 1
                rec["executor_ms"] += m.get("Executor Run Time", 0)
                rec["shuffle_write_bytes"] += (
                    m.get("Shuffle Write Metrics") or {}
                ).get("Shuffle Bytes Written", 0)
                rec["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
    return groups


def find_event_log(log_dir: str) -> str:
    """The single finished application log in ``log_dir``."""
    logs = [f for f in os.listdir(log_dir) if not f.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {logs}")
    return os.path.join(log_dir, logs[0])


def _busy_ms(intervals: list[tuple[int, int]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi] (ms)."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def span_counters(span: dict, groups: dict, spans: list[dict]) -> dict:
    """Event-log counters of ``span`` and every span nested under it."""
    ids = {span["id"]}
    for rec in spans:  # spans are recorded parent-first
        if rec["parent"] in ids:
            ids.add(rec["id"])
    out = _new_group()
    for gid in ids:
        rec = groups.get(gid)
        if rec is None:
            continue
        for k in ("jobs", "stages", "tasks", "executor_ms",
                  "shuffle_write_bytes", "spill_bytes"):
            out[k] += rec[k]
        out["job_intervals"] += rec["job_intervals"]
    wall_ms = (span["end"] - span["start"]) * 1000.0
    busy = _busy_ms(out["job_intervals"], span["start"] * 1000.0, span["end"] * 1000.0)
    return {
        "wall_s": wall_ms / 1000.0,
        "jobs": out["jobs"],
        "stages": out["stages"],
        "tasks": out["tasks"],
        "executor_s": out["executor_ms"] / 1000.0,
        "shuffle_mb": out["shuffle_write_bytes"] / 1e6,
        "spill_mb": out["spill_bytes"] / 1e6,
        "driver_gap_s": max(0.0, wall_ms - busy) / 1000.0,
    }
