"""Spark event-log reader (standard library only).

Reads one application's uncompressed event log (``spark.eventLog.compress
=false``): the rolling layout's ``eventlog_v2_<app>/events_<n>_<app>``
JSON-lines files in order, or a single file. It folds each task's ``Task Metrics`` into per-job counters.
Jobs are keyed by their job group (``phase|entity|op`` when the tracer
set one) and by submission time, so callers can attribute jobs that ran
without a group (micro-batches run on the stream thread) to a time
window instead.
"""

from __future__ import annotations

import json
import os

COUNTERS = ("spark.jobs", "spark.stages", "spark.stages_skipped",
            "spark.tasks", "spark.executor_run_ms", "spark.executor_cpu_ms",
            "spark.gc_ms", "spark.deserialize_ms", "spark.input_bytes",
            "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
            "spark.spill_bytes")


def _task_counters(m: dict) -> dict:
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    return {
        "spark.executor_run_ms": m.get("Executor Run Time", 0),
        "spark.executor_cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
        "spark.gc_ms": m.get("JVM GC Time", 0),
        "spark.deserialize_ms": m.get("Executor Deserialize Time", 0),
        "spark.input_bytes": (m.get("Input Metrics") or {}).get(
            "Bytes Read", 0),
        "spark.shuffle_read_bytes": (sr.get("Remote Bytes Read", 0)
                                     + sr.get("Local Bytes Read", 0)),
        "spark.shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "spark.spill_bytes": (m.get("Memory Bytes Spilled", 0)
                              + m.get("Disk Bytes Spilled", 0)),
    }


def _events(path: str):
    if os.path.isdir(path):
        parts = sorted((f for f in os.listdir(path)
                        if f.startswith("events_")),
                       key=lambda f: int(f.split("_")[1]))
        paths = [os.path.join(path, f) for f in parts]
    else:
        paths = [path]
    for p in paths:
        with open(p) as f:
            for line in f:
                yield json.loads(line)


def read_jobs(path: str) -> list:
    """One dict per job: id, group, submit/end (epoch seconds) and the
    ``COUNTERS`` summed over its stages' tasks."""
    jobs, stage_job, ran = {}, {}, set()
    stage_tasks: dict = {}
    for ev in _events(path):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            jobs[jid] = {"id": jid,
                         "group": props.get("spark.jobGroup.id"),
                         "submit": ev["Submission Time"] / 1000,
                         "end": None,
                         "stage_ids": list(ev.get("Stage IDs", []))}
            for s in ev.get("Stage IDs", []):
                stage_job.setdefault(s, jid)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
        elif kind == "SparkListenerStageCompleted":
            ran.add(ev["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            c = _task_counters(ev.get("Task Metrics") or {})
            acc = stage_tasks.setdefault(ev["Stage ID"], {"n": 0})
            acc["n"] += 1
            for k, v in c.items():
                acc[k] = acc.get(k, 0) + v
    out = []
    for jid in sorted(jobs):
        j = jobs[jid]
        c = {k: 0 for k in COUNTERS}
        c["spark.jobs"] = 1
        for s in j.pop("stage_ids"):
            # a stage runs once, in the first job that lists it; later
            # jobs that list it reuse its output
            if s in ran and stage_job[s] == jid:
                c["spark.stages"] += 1
                t = stage_tasks.get(s, {})
                c["spark.tasks"] += t.get("n", 0)
                for k in COUNTERS[4:]:
                    c[k] += t.get(k, 0)
            else:
                c["spark.stages_skipped"] += 1
        j["counters"] = c
        out.append(j)
    return out


def fold(jobs, key) -> dict:
    """Sum job counters by ``key(job)``; jobs mapped to None are dropped."""
    out: dict = {}
    for j in jobs:
        k = key(j)
        if k is None:
            continue
        acc = out.setdefault(k, {c: 0 for c in COUNTERS})
        for c, v in j["counters"].items():
            acc[c] += v
    return out
