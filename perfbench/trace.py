"""Tracing for the per-layer run: in-memory spans and the Spark event log.

Spans are recorded by the benchmark around each call into a layer's public
function and written out once at the end. Spark counts come from the event
log, which the benchmark switches on from outside the program through
``PYSPARK_SUBMIT_ARGS`` (see ``common.spark_env``).
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

_PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"
_STARTED = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryStartedEvent"


class Spans:
    """Spans with name, start, end, parent and trace id, kept in memory.
    One thread records them."""

    def __init__(self, trace_id: str) -> None:
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        self.spans.append({"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
                           "trace": self.trace_id, "start": time.time(), "end": None})
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def read_event_log(log_dir: str) -> dict:
    """Jobs (with their properties and tasks' metrics), streaming query
    names and progress events from every event log file in ``log_dir``."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    queries: dict[str, str] = {}
    progress: list[dict] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path, errors="replace") as f:
            for line in f:
                try:
                    e = json.loads(line)
                except ValueError:
                    continue  # a torn last line of a killed app
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[e["Job ID"]] = {
                        "props": e.get("Properties") or {}, "start_ms": e.get("Submission Time"),
                        "stages": 0, "tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0, "shuffle_bytes": 0}
                    for sid in e.get("Stage IDs", []):
                        stage_job[sid] = e["Job ID"]
                elif kind == "SparkListenerJobEnd" and e.get("Job ID") in jobs:
                    jobs[e["Job ID"]]["end_ms"] = e.get("Completion Time")
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(e.get("Stage ID")))
                    m = e.get("Task Metrics") or {}
                    if job is None or not m:
                        continue
                    job["tasks"] += 1
                    job["run_ms"] += m.get("Executor Run Time", 0)
                    job["cpu_ns"] += m.get("Executor CPU Time", 0)
                    job["gc_ms"] += m.get("JVM GC Time", 0)
                    job["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                elif kind == "SparkListenerStageCompleted":
                    info = e.get("Stage Info") or {}
                    job = jobs.get(stage_job.get(info.get("Stage ID")))
                    if job is not None:
                        job["stages"] += 1
                elif kind == _STARTED:
                    queries[e.get("id")] = e.get("name")
                elif kind == _PROGRESS:
                    progress.append(e["progress"])
    return {"jobs": jobs, "queries": queries, "progress": progress}


def spark_counts(jobs) -> dict[str, float]:
    """The ``spark.*`` and ``pyworker.s`` metrics over a set of jobs."""
    jobs = list(jobs)
    run_s = sum(j["run_ms"] for j in jobs) / 1e3
    cpu_s = sum(j["cpu_ns"] for j in jobs) / 1e9
    return {
        "spark.jobs": len(jobs),
        "spark.stages": sum(j["stages"] for j in jobs),
        "spark.tasks": sum(j["tasks"] for j in jobs),
        "spark.shuffle_bytes": sum(j["shuffle_bytes"] for j in jobs),
        "spark.task_run_s": run_s,
        "spark.task_cpu_s": cpu_s,
        "spark.gc_s": sum(j["gc_ms"] for j in jobs) / 1e3,
        "pyworker.s": run_s - cpu_s,
    }


def jobs_by(jobs: dict, prop: str) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = defaultdict(list)
    for j in jobs.values():
        out[j["props"].get(prop, "")].append(j)
    return out
