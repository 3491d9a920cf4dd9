"""Spark event-log reader: per-job-group counters for the traced run.

The traced run enables an uncompressed, non-rolling event log (one JSON
object per line) and tags every span's jobs with a unique job group (see
``harness.Tracer``). Stages carry the group in their submission
properties, so each finished task is attributed through its stage.
Python-worker times are the per-task SQL metrics Spark's Arrow/pandas
evaluation nodes report, in milliseconds; a task that runs several Python
nodes reports each, and they are summed.
"""

from __future__ import annotations

import json
from collections import defaultdict

GROUP_KEY = "spark.jobGroup.id"

PY_METRICS = {
    "time to start Python workers": "py_start_s",
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_run_s",
}

COUNTERS = (
    "jobs",
    "tasks",
    "cpu_s",
    "gc_s",
    "shuffle_write_mb",
    "py_start_s",
    "py_init_s",
    "py_run_s",
)


def _zero() -> dict[str, float]:
    return {c: 0 for c in COUNTERS}


def group_counters(lines) -> dict[str, dict[str, float]]:
    """Fold event-log lines into ``{job group: counters}``. Jobs and tasks
    outside any group are filed under ``None``."""
    stage_group: dict[int, str | None] = {}
    out: dict[str | None, dict[str, float]] = defaultdict(_zero)
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            out[(ev.get("Properties") or {}).get(GROUP_KEY)]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            stage_group[sid] = (ev.get("Properties") or {}).get(GROUP_KEY)
        elif kind == "SparkListenerTaskEnd":
            c = out[stage_group.get(ev["Stage ID"])]
            c["tasks"] += 1
            tm = ev.get("Task Metrics") or {}
            c["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            c["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            c["shuffle_write_mb"] += (
                (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                / 2**20
            )
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                key = PY_METRICS.get(acc.get("Name"))
                if key is not None:
                    c[key] += int(acc.get("Update") or 0) / 1e3
    return dict(out)


def read_group_counters(path: str) -> dict[str, dict[str, float]]:
    with open(path) as fh:
        return group_counters(fh)
