"""Pins the event-log parser on a hand-written four-task log.

Run: python3 -m pytest kgbench/test_eventlog.py -q
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402
from pytest import approx  # noqa: E402

TAGS = "kgb:pass:0,spark-session-x-execution-root-id-0,spark-session-x"


def _job(job_id, tags):
    return {"Event": "SparkListenerJobStart", "Job ID": job_id,
            "Properties": {"spark.job.tags": tags}}


def _stage(stage_id, tags):
    return {"Event": "SparkListenerStageSubmitted",
            "Stage Info": {"Stage ID": stage_id},
            "Properties": {"spark.job.tags": tags}}


def _task(stage_id, launch, finish, cpu_ns, run_ms, gc_ms, py=None,
          shuffle=(0, 0, 0), spill=0):
    acc = []
    if py:
        acc = [
            {"Name": eventlog.PY_RUN, "Update": str(py[0])},
            {"Name": eventlog.PY_SENT, "Update": str(py[1])},
            {"Name": eventlog.PY_RETURNED, "Update": str(py[2])},
        ]
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage_id,
        "Task Info": {"Launch Time": launch, "Finish Time": finish,
                      "Accumulables": acc},
        "Task Metrics": {
            "Executor CPU Time": cpu_ns, "Executor Run Time": run_ms,
            "JVM GC Time": gc_ms, "Memory Bytes Spilled": 7 * spill,
            "Disk Bytes Spilled": spill,
            "Shuffle Read Metrics": {"Remote Bytes Read": shuffle[0],
                                     "Local Bytes Read": shuffle[1]},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle[2]},
        },
    }


def _log():
    events = [
        {"Event": "SparkListenerLogStart"},
        _job(0, TAGS), _stage(0, TAGS), _stage(1, TAGS),
        _job(1, "spark-session-x"), _stage(2, "spark-session-x"),
        _job(2, "kgb:pass:0,kgb:scan"), _stage(3, "kgb:pass:0,kgb:scan"),
        _task(0, 1000, 3500, 2_000_000_000, 2400, 100,
              py=(1800, 5000, 300)),
        _task(0, 1000, 2000, 500_000_000, 900, 0, py=(700, 1000, 100)),
        _task(1, 4000, 4200, 100_000_000, 150, 10, shuffle=(10, 20, 30),
              spill=64),
        _task(2, 0, 99_000, 9_000_000_000, 99_000, 9_000),  # untagged
        _task(3, 5000, 5100, 0, 100, 0),
    ]
    return [json.dumps(e) for e in events]


def test_parse_attributes_tasks_to_tags():
    per = eventlog.parse(_log())
    assert set(per) == {"kgb:pass:0", "kgb:scan"}
    p = per["kgb:pass:0"]
    assert p["jobs"] == 2 and p["tasks"] == 4
    assert p["executor_cpu_s"] == approx(2.6)
    assert p["executor_run_s"] == approx(3.55)
    assert p["gc_s"] == approx(0.11)
    assert p["python_worker_s"] == approx(2.5)
    assert p["bytes_to_python"] == 6000 and p["bytes_from_python"] == 400
    assert p["shuffle_read_bytes"] == 30 and p["shuffle_write_bytes"] == 30
    assert p["spill_bytes"] == 64
    assert p["task_max_s"] == 2.5
    s = per["kgb:scan"]
    assert s["jobs"] == 1 and s["tasks"] == 1 and s["executor_run_s"] == approx(0.1)


def test_total_sums_and_maxes():
    per = eventlog.parse(_log())
    t = eventlog.total(per, ["kgb:pass:0", "kgb:scan", "kgb:absent"])
    assert t["tasks"] == 5 and t["jobs"] == 3
    assert t["task_max_s"] == 2.5
    assert t["executor_run_s"] == approx(3.65)


def test_parse_file(tmp_path):
    path = tmp_path / "app-1"
    path.write_text("\n".join(_log()) + "\n", encoding="utf-8")
    assert eventlog.parse_file(str(path))["kgb:scan"]["tasks"] == 1
