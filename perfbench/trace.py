"""Spans around the benchmark's calls into the engine, and per-span Spark
counters read back from the event log.

A span has a name, start and end (epoch seconds), its parent span and the
id of the operation it belongs to. Each span runs its Spark jobs under its
own job group, so after the run every job, stage and task in the event log
can be attributed to exactly one span. Spans stay in memory until
:meth:`Tracer.write`.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Records spans when ``enabled``; otherwise every span is a no-op so
    the measured runs pay nothing."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, op: str, **attrs):
        if not self.enabled:
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"{op}/{len(self.spans)}/{name}",
            "name": name,
            "op": op,
            "parent": parent["id"] if parent else None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["id"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def spans_named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _zero() -> dict:
    return {
        "jobs": 0, "tasks": 0, "failed_tasks": 0, "run_ms": 0, "gc_ms": 0,
        "spill_bytes": 0, "input_records": 0, "shuffle_write_bytes": 0,
        "shuffle_write_records": 0, "job_intervals": [],
    }


def span_counters(event_log_path: str) -> dict[str, dict]:
    """Job group (== span id) -> Spark counters summed over its jobs and
    tasks: job count and [start, end] intervals, task count, failed tasks,
    executor run and GC time, spilled bytes, input records, shuffle-write
    bytes and records."""
    stage_group: dict[tuple[int, int], str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    out: dict[str, dict] = defaultdict(_zero)
    with open(event_log_path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    job_group[ev["Job ID"]] = group
                    job_start[ev["Job ID"]] = ev["Submission Time"] / 1000.0
                    out[group]["jobs"] += 1
            elif kind == "SparkListenerJobEnd":
                group = job_group.get(ev["Job ID"])
                if group:
                    out[group]["job_intervals"].append(
                        (job_start[ev["Job ID"]], ev["Completion Time"] / 1000.0)
                    )
            elif kind == "SparkListenerStageSubmitted":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                info = ev["Stage Info"]
                if group:
                    stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = group
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                if not group:
                    continue
                c = out[group]
                c["tasks"] += 1
                if ev["Task End Reason"].get("Reason") != "Success":
                    c["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                c["run_ms"] += m.get("Executor Run Time", 0)
                c["gc_ms"] += m.get("JVM GC Time", 0)
                c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                c["input_records"] += m.get("Input Metrics", {}).get("Records Read", 0)
                sw = m.get("Shuffle Write Metrics", {})
                c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                c["shuffle_write_records"] += sw.get("Shuffle Records Written", 0)
    return out


def uncovered_s(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Seconds of [start, end] that no interval covers (the driver-side
    share of a span: planning, Python and round-trips)."""
    covered, cur = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, end)
        if b > a:
            covered += b - a
            cur = b
    return max(0.0, (end - start) - covered)
