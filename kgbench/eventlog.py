"""Turn an uncompressed Spark event log into per-tag layer metrics.

The benchmark wraps every timed call in a job tag (``SparkContext.
addJobTag``) whose name starts with ``TAG_PREFIX``. Spark copies the
tags into the ``Properties`` of each ``SparkListenerJobStart`` and
``SparkListenerStageSubmitted`` event, so every task can be attributed
to the tag of the stage that ran it. No listener or py4j callback is
needed: the log is parsed after ``spark.stop()`` has flushed it.
"""

from __future__ import annotations

import json
from collections import defaultdict

TAG_PREFIX = "kgb:"

# SQL metrics the Arrow Python runners record per task ("Accumulables")
PY_RUN = "time to run Python workers"  # ms
PY_SENT = "data sent to Python workers"  # bytes
PY_RETURNED = "data returned from Python workers"  # bytes

FIELDS = (
    "executor_cpu_s", "executor_run_s", "gc_s", "python_worker_s",
    "bytes_to_python", "bytes_from_python", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "jobs", "tasks", "task_max_s",
)


def _tags(props: dict | None) -> list[str]:
    raw = (props or {}).get("spark.job.tags", "")
    return [t for t in raw.split(",") if t.startswith(TAG_PREFIX)]


def parse(lines) -> dict[str, dict[str, float]]:
    """{tag: {field: value}} over the benchmark's tags (``FIELDS``).

    A stage or job carrying several benchmark tags counts toward each."""
    stage_tags: dict[int, list[str]] = {}
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(FIELDS, 0.0)
    )
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            for t in _tags(ev.get("Properties")):
                out[t]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            stage_tags[sid] = _tags(ev.get("Properties"))
        elif kind == "SparkListenerTaskEnd":
            tags = stage_tags.get(ev["Stage ID"], [])
            if not tags:
                continue
            info = ev["Task Info"]
            tm = ev.get("Task Metrics") or {}
            acc = {
                a.get("Name"): a.get("Update")
                for a in info.get("Accumulables", [])
            }
            rd = tm.get("Shuffle Read Metrics", {})
            row = {
                "executor_cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                "executor_run_s": tm.get("Executor Run Time", 0) / 1e3,
                "gc_s": tm.get("JVM GC Time", 0) / 1e3,
                "python_worker_s": float(acc.get(PY_RUN) or 0) / 1e3,
                "bytes_to_python": float(acc.get(PY_SENT) or 0),
                "bytes_from_python": float(acc.get(PY_RETURNED) or 0),
                "shuffle_read_bytes": float(
                    rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                ),
                "shuffle_write_bytes": float(
                    tm.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                ),
                "spill_bytes": float(tm.get("Disk Bytes Spilled", 0)),
            }
            dur = (info["Finish Time"] - info["Launch Time"]) / 1e3
            for t in tags:
                agg = out[t]
                for k, v in row.items():
                    agg[k] += v
                agg["tasks"] += 1
                agg["task_max_s"] = max(agg["task_max_s"], dur)
    return dict(out)


def parse_file(path: str) -> dict[str, dict[str, float]]:
    with open(path, encoding="utf-8") as f:
        return parse(f)


def total(per_tag: dict[str, dict[str, float]], tags) -> dict[str, float]:
    """Sum ``FIELDS`` over ``tags`` (``task_max_s`` takes the max)."""
    acc = dict.fromkeys(FIELDS, 0.0)
    for t in tags:
        row = per_tag.get(t)
        if row is None:
            continue
        for k in FIELDS:
            acc[k] = max(acc[k], row[k]) if k == "task_max_s" else acc[k] + row[k]
    return acc
