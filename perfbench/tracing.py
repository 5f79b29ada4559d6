"""Spans around layer calls, and per-layer counters from the Spark event log.

A span is (name, start, end, parent), kept in memory and written out when
the run ends.  Entering a span also sets the Spark job description to the
span's name, so every job a layer call fires carries that name in the
event log; ``job_metrics`` folds the log's task records back onto those
names.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

MB = 1024 * 1024
PYTHON_SENT = "data sent to Python workers"


class Tracer:
    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.counters: dict[str, float] = {}

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._sc.setJobDescription(name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._sc.setJobDescription(
                self.spans[self._stack[-1]]["name"] if self._stack else None)

    def add(self, key: str, n: float) -> None:
        self.counters[key] = self.counters.get(key, 0) + n

    def self_time(self, name: str) -> float:
        """Summed duration of the spans called ``name`` minus the time
        their child spans cover."""
        total = 0.0
        for s in self.spans:
            if s["name"] != name:
                continue
            total += s["end"] - s["start"]
            total -= sum(c["end"] - c["start"] for c in self.spans
                         if c["parent"] == s["id"])
        return total

    def write(self, path: Path) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps([
            {**s, "start": s["start"] - t0, "end": s["end"] - t0}
            for s in self.spans], indent=1))


def empty_metrics() -> dict:
    return {"jobs": 0, "tasks": 0, "failed_tasks": 0, "task_s": 0.0,
            "task_wait_s": 0.0, "gc_s": 0.0, "shuffle_read_mb": 0.0,
            "shuffle_write_mb": 0.0, "spill_mb": 0.0, "python_in_mb": 0.0,
            "skew": 0.0}


def job_metrics(event_log: Path) -> dict[str, dict]:
    """Per job description: jobs, tasks, failed tasks, task seconds, time
    tasks waited after their stage was submitted, GC seconds, shuffle and
    spill megabytes, Arrow megabytes sent to Python workers, and skew
    (slowest over median task of the description's busiest stage)."""
    stage_desc: dict[int, str] = {}
    stage_submit: dict[int, float] = {}
    out: dict[str, dict] = {}
    durations: dict[str, dict[int, list[float]]] = {}
    tasks = []
    with open(event_log) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                desc = ev.get("Properties", {}).get(
                    "spark.job.description") or "untraced"
                out.setdefault(desc, empty_metrics())["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_desc.setdefault(sid, desc)
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                if info.get("Submission Time"):
                    stage_submit[info["Stage ID"]] = info["Submission Time"]
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
    for ev in tasks:
        sid = ev["Stage ID"]
        desc = stage_desc.get(sid, "untraced")
        agg = out.setdefault(desc, empty_metrics())
        info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
        agg["tasks"] += 1
        agg["failed_tasks"] += int(info["Failed"] or info["Killed"])
        agg["task_s"] += tm.get("Executor Run Time", 0) / 1000
        agg["gc_s"] += tm.get("JVM GC Time", 0) / 1000
        if sid in stage_submit:
            agg["task_wait_s"] += max(
                0, info["Launch Time"] - stage_submit[sid]) / 1000
        rd = tm.get("Shuffle Read Metrics", {})
        agg["shuffle_read_mb"] += (rd.get("Remote Bytes Read", 0)
                                   + rd.get("Local Bytes Read", 0)) / MB
        agg["shuffle_write_mb"] += tm.get(
            "Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / MB
        agg["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / MB
        agg["python_in_mb"] += sum(
            int(a.get("Update", 0)) for a in info.get("Accumulables", [])
            if a.get("Name") == PYTHON_SENT) / MB
        durations.setdefault(desc, {}).setdefault(sid, []).append(
            (info["Finish Time"] - info["Launch Time"]) / 1000)
    for desc, stages in durations.items():
        busiest = max(stages.values(), key=sum)
        med = statistics.median(busiest)
        out[desc]["skew"] = max(busiest) / med if med > 0 else 1.0
    return out


def sum_metrics(per_desc: dict[str, dict]) -> dict:
    """The additive counters summed over descriptions."""
    tot = empty_metrics()
    for agg in per_desc.values():
        for k, v in agg.items():
            if k != "skew":
                tot[k] += v
    return tot
