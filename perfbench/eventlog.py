"""Stdlib-only roll-up of an uncompressed Spark event log into per-job-group
metrics.

Jobs carry their group in ``Properties["spark.jobGroup.id"]`` (set with
``setJobGroup``). Tasks name only their stage, so each stage is joined to
the first job that lists it, and each task to its stage's job and group.
Per group the roll-up gives job and task counts, executor run, CPU and GC
time, shuffle bytes, spill, and the job intervals (to subtract from a
wall to get driver-only time).
"""

from __future__ import annotations

import json
from collections import defaultdict

FIELDS = ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
          "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


def _empty() -> dict:
    return {**{f: 0 for f in FIELDS}, "job_spans": []}


def rollup(lines) -> dict[str, dict]:
    """Group id -> metrics, from the event log's JSON lines. Jobs without
    a group roll up under ``""``."""
    stage_job: dict[int, int] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    out: dict[str, dict] = defaultdict(_empty)
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = ev["Job ID"]
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            job_group[job] = group
            job_start[job] = ev["Submission Time"] / 1000.0
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, job)
            out[group]["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            job = ev["Job ID"]
            if job in job_start:
                out[job_group[job]]["job_spans"].append(
                    (job_start[job], ev["Completion Time"] / 1000.0)
                )
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            job = stage_job.get(ev["Stage ID"])
            if m is None or job is None:
                continue
            g = out[job_group[job]]
            g["tasks"] += 1
            g["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            g["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            r = m.get("Shuffle Read Metrics") or {}
            g["shuffle_read_bytes"] += r.get("Remote Bytes Read", 0) + r.get(
                "Local Bytes Read", 0
            )
    return dict(out)

