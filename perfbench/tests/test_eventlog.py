"""The event-log reader on a recorded fragment: a local[2] session ran a
pandas UDF (normalize_features) under job group ``g1#0`` and a plain
count under ``g2#1``; the fragment keeps the job, stage and task events
with the fields the reader uses."""

import os

import pytest

import eventlog

FRAGMENT = os.path.join(os.path.dirname(__file__), "eventlog_fragment.jsonl")


def test_counters_are_attributed_by_job_group():
    c = eventlog.read_group_counters(FRAGMENT)
    assert set(c) == {"g1#0", "g2#1"}
    udf, plain = c["g1#0"], c["g2#1"]
    assert (udf["jobs"], udf["tasks"]) == (2, 3)
    assert (plain["jobs"], plain["tasks"]) == (2, 3)
    # two tasks ran the Python UDF: start 1535 + 1522 ms, init 1138 + 1153 ms
    assert udf["py_start_s"] == pytest.approx(3.057)
    assert udf["py_init_s"] == pytest.approx(2.291)
    assert udf["py_run_s"] > udf["py_init_s"]
    assert plain["py_start_s"] == plain["py_init_s"] == plain["py_run_s"] == 0
    assert udf["shuffle_write_mb"] == pytest.approx(188 / 2**20)
    assert plain["shuffle_write_mb"] == pytest.approx(118 / 2**20)
    assert udf["gc_s"] == pytest.approx(0.024)
    assert udf["cpu_s"] > plain["cpu_s"] > 0


def test_ungrouped_jobs_and_blank_lines():
    lines = [
        '{"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0], "Properties": {}}',
        "",
        '{"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0}}',
        '{"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Info": {}, "Task Metrics": {"Executor CPU Time": 2000000000}}',
    ]
    c = eventlog.group_counters(lines)
    assert c[None]["jobs"] == 1
    assert c[None]["tasks"] == 1
    assert c[None]["cpu_s"] == pytest.approx(2.0)
