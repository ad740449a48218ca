"""Spans around the benchmark's calls into the engine's layers.

A span has a name, start, end, parent and request id (the op index).
Spans live in memory and are written out when the run ends. With the
tracer off, ``span`` costs one attribute check, so the untraced run
measures the engine alone.

Spark work is attributed per span through a job group the tracer sets
on entry: the job ids of the group are read back from the status
tracker on exit. Task time and shuffle bytes come from the Spark event
log, which the traced run switches on from outside the engine (see
``run.py``); ``attach_event_log`` joins it to the spans after the
session stops.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next = 0
        self._sc = None

    def bind(self, spark) -> None:
        """Count Spark jobs per span from now on."""
        if self.enabled:
            self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, req: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": self._next,
            "name": name,
            "parent": parent["id"] if parent else None,
            "req": req if req is not None else (parent["req"] if parent else None),
            "start": time.perf_counter(),
            **attrs,
        }
        self._next += 1
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._sc is not None:
                rec["jobs"] = list(self._sc.statusTracker().getJobIdsForGroup(_group(rec)))
                self._set_group(parent)
            self.spans.append(rec)

    def add(self, name: str, start: float, end: float, parent: dict, **attrs) -> None:
        """Record a span whose interval was measured elsewhere (for
        example a streaming trigger, from the query's progress)."""
        if not self.enabled:
            return
        self.spans.append({
            "id": self._next, "name": name, "parent": parent["id"],
            "req": parent["req"], "start": start, "end": end, **attrs,
        })
        self._next += 1

    def _set_group(self, rec: dict | None) -> None:
        if self._sc is None:
            return
        if rec is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(_group(rec), rec["name"])

    def write(self, path: str, t0: float) -> None:
        """Write the spans, times relative to ``t0``, each with its self
        time: its duration minus the time its children cover."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + (s["end"] - s["start"])
        rows = [
            dict(s, start=s["start"] - t0, end=s["end"] - t0,
                 self_ms=1000.0 * (s["end"] - s["start"] - child.get(s["id"], 0.0)))
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump(rows, f)


def _group(rec: dict) -> str:
    return f"perfbench-{rec['id']}"


def event_log_conf(log_dir: str) -> str:
    """spark-submit arguments that switch the event log on. The traced run
    passes them through PYSPARK_SUBMIT_ARGS, so the engine's session code
    is the same in both runs."""
    return (
        "--conf spark.eventLog.enabled=true "
        f"--conf spark.eventLog.dir=file://{log_dir} "
        "--conf spark.eventLog.compress=false pyspark-shell"
    )


def attach_event_log(tracer: Tracer, log_dir: str) -> None:
    """Add ``task_ms`` (summed executor run time) and ``shuffle_bytes``
    (shuffle bytes written) to every span that ran Spark jobs."""
    stage_job: dict[int, int] = {}
    job_cost: dict[int, list[float]] = {}
    for path in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job_cost.setdefault(ev["Job ID"], [0.0, 0.0])
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics") or {}
                    if job is None or not m:
                        continue
                    cost = job_cost.setdefault(job, [0.0, 0.0])
                    cost[0] += m.get("Executor Run Time", 0)
                    cost[1] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    for s in tracer.spans:
        jobs = s.get("jobs") or []
        s["task_ms"] = sum(job_cost.get(j, [0.0, 0.0])[0] for j in jobs)
        s["shuffle_bytes"] = sum(job_cost.get(j, [0.0, 0.0])[1] for j in jobs)
