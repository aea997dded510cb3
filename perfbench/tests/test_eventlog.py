"""The event-log reader on a small rolling-format log."""

import json
import os

import pytest

from spans import PY_INIT, PY_RUN, PY_SENT, PY_START, EventLog, callsite_file, event_log_files


def _task(stage, run_ms, cpu_ns, shuffle_w=0, in_bytes=0, in_recs=0, out_bytes=0, spill=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": 1,
            "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 5, "Local Bytes Read": 7},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
            "Input Metrics": {"Bytes Read": in_bytes, "Records Read": in_recs},
            "Output Metrics": {"Bytes Written": out_bytes},
        },
    }


def _write_rolling(root):
    app = os.path.join(root, "eventlog_v2_local-1")
    os.makedirs(app)
    part1 = [
        {"Event": "SparkListenerLogStart"},
        {
            "Event": "SparkListenerJobStart",
            "Job ID": 0,
            "Submission Time": 1000,
            "Stage IDs": [0, 1],
            "Properties": {
                "spark.jobGroup.id": "span-3",
                "callSite.short": "first at /x/transferdb_spark/ext/bpe.py:476",
            },
        },
        _task(0, 100, 50_000_000, shuffle_w=300, in_bytes=1000, in_recs=10),
        _task(0, 120, 60_000_000, shuffle_w=200, in_bytes=1000, in_recs=10),
    ]
    part2 = [
        _task(1, 40, 10_000_000, out_bytes=64, spill=8),
        {
            "Event": "SparkListenerStageCompleted",
            "Stage Info": {
                "Stage ID": 1,
                "Accumulables": [
                    {"Name": PY_START, "Value": "0"},
                    {"Name": PY_INIT, "Value": "900"},
                    {"Name": PY_RUN, "Value": "30"},
                    {"Name": PY_SENT, "Value": "4096"},
                ],
            },
        },
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        # a later job lists stage 0 again: skipped, its tasks stay with job 0
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000, "Stage IDs": [0, 2],
         "Properties": {}},
        _task(2, 10, 1_000_000),
    ]
    # file order is by index, not by name: events_10 follows events_2
    for idx, evs in ((1, part1), (2, part2)):
        with open(os.path.join(app, f"events_{idx}_local-1"), "w") as fh:
            fh.write("\n".join(json.dumps(e) for e in evs) + "\n")
    with open(os.path.join(app, "events_10_local-1"), "w") as fh:
        fh.write('{"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2100}\n{"Event": "Spark')
    with open(os.path.join(app, "appstatus_local-1"), "w"):
        pass
    return app


def test_rolling_parts_are_read_in_index_order(tmp_path):
    app = _write_rolling(str(tmp_path))
    names = [os.path.basename(p) for p in event_log_files(str(tmp_path))]
    assert names == ["events_1_local-1", "events_2_local-1", "events_10_local-1"]
    assert os.path.isdir(app)


def test_task_metrics_sum_per_job(tmp_path):
    _write_rolling(str(tmp_path))
    log = EventLog.read(str(tmp_path))  # the torn last line is skipped
    assert set(log.jobs) == {0, 1}
    assert log.jobs[0]["group"] == "span-3"
    assert log.jobs[1]["submit"] == pytest.approx(2.0)
    t0 = log.totals([0])
    assert t0["jobs"] == 1 and t0["stages"] == 2 and t0["tasks"] == 3
    assert t0["executor_run_ms"] == 260
    assert t0["jvm_cpu_ms"] == pytest.approx(120)
    assert t0["shuffle_write_bytes"] == 500
    assert t0["shuffle_read_bytes"] == 36
    assert t0["input_bytes"] == 2000 and t0["input_records"] == 20
    assert t0["output_bytes"] == 64 and t0["spill_bytes"] == 8
    t1 = log.totals([1])
    assert t1["tasks"] == 1 and t1["executor_run_ms"] == 10


def test_python_accumulators_per_stage(tmp_path):
    _write_rolling(str(tmp_path))
    log = EventLog.read(str(tmp_path))
    assert log.accum([0], PY_INIT) == 900
    assert log.accum([1], PY_INIT) == 0
    (st,) = log.python_stages([0])
    assert st["stage"] == 1 and st["run_ms"] == 30 and st["executor_run_ms"] == 40


def test_callsite_file():
    assert callsite_file("first at /x/transferdb_spark/ext/bpe.py:476") == "ext/bpe"
    assert callsite_file("start at NativeMethodAccessorImpl.java:0") == ""
