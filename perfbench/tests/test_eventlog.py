"""The event-log roll-up: jobs, stages and tasks joined by job group."""

import json
import os

import eventlog
from spans import union_s

HERE = os.path.dirname(os.path.abspath(__file__))


def _task(stage, run_ms, cpu_ns, gc_ms, write=0, read=0, spill=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms, "Disk Bytes Spilled": spill,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": write},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": read},
        },
    }


def _job(job, stages, group, submit_ms):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job, "Submission Time": submit_ms,
            "Stage IDs": stages, "Properties": props}


SYNTHETIC = [
    _job(0, [0, 1], "q_a#1", 1000),
    _task(0, 100, 50_000_000, 10, write=300),
    _task(1, 200, 150_000_000, 0, read=300),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
    # Job 1 lists stage 1 again (skipped, already computed): its tasks
    # stay with job 0; stage 2 is its own.
    _job(1, [1, 2], "q_b#2", 2000),
    _task(2, 50, 10_000_000, 5, spill=70),
    {"Event": "SparkListenerTaskEnd", "Stage ID": 2},  # failed task: no metrics
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2250},
    _job(2, [3], None, 2300),
    _task(3, 10, 1_000_000, 0),
    {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 2400},
    {"Event": "SparkListenerApplicationEnd", "Timestamp": 2500},
]


def test_synthetic_log_joins_tasks_to_groups():
    g = eventlog.rollup(json.dumps(e) for e in SYNTHETIC)
    assert set(g) == {"q_a#1", "q_b#2", ""}
    a, b = g["q_a#1"], g["q_b#2"]
    assert (a["jobs"], a["tasks"], b["jobs"], b["tasks"]) == (1, 2, 1, 1)
    assert abs(a["executor_cpu_s"] - 0.2) < 1e-12
    assert abs(a["executor_run_s"] - 0.3) < 1e-12
    assert a["gc_s"] == 0.01 and b["gc_s"] == 0.005
    assert (a["shuffle_write_bytes"], a["shuffle_read_bytes"]) == (300, 300)
    assert (b["spill_bytes"], a["spill_bytes"]) == (70, 0)
    assert a["job_spans"] == [(1.0, 1.5)] and b["job_spans"] == [(2.0, 2.25)]
    assert g[""]["tasks"] == 1


def test_recorded_log():
    """A log recorded from Spark 4.1 (uncompressed, trimmed to the events
    the roll-up reads): group ``count#1`` ran ``spark.range(0, 1000, 1, 4)
    .count()``, group ``agg#2`` a 4-partition groupBy over the same range,
    each under ``setJobGroup``. The expected job and task counts were
    read from Spark's status tracker when the log was recorded."""
    with open(os.path.join(HERE, "data", "eventlog_small.jsonl")) as fh:
        g = eventlog.rollup(fh)
    with open(os.path.join(HERE, "data", "eventlog_small.expected.json")) as fh:
        want = json.load(fh)
    for group, fields in want.items():
        got = dict(g[group])
        got["job_s"] = union_s(got.pop("job_spans"))
        for k, v in fields.items():
            assert abs(got[k] - v) < 1e-9, (group, k, got[k], v)
