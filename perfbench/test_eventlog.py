"""Unit tests for the event-log reader, on small synthetic logs.

    python3 -m pytest perfbench/test_eventlog.py -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

import eventlog  # noqa: E402


def _job_start(jid, t, desc, stages):
    props = {"spark.job.description": desc} if desc else {}
    return {"Event": "SparkListenerJobStart", "Job ID": jid,
            "Submission Time": t, "Stage IDs": stages, "Properties": props}


def _stage(sid, desc):
    props = {"spark.job.description": desc} if desc else {}
    return {"Event": "SparkListenerStageSubmitted",
            "Stage Info": {"Stage ID": sid, "Stage Attempt ID": 0},
            "Properties": props}


def _task(sid, run_ms, shuffle_w=0, records=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
            "Stage Attempt ID": 0,
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
                "Input Metrics": {"Records Read": records}}}


def _job_end(jid, t):
    return {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t}


EVENTS = [
    {"Event": "SparkListenerApplicationStart", "App Name": "t"},
    # op A: two overlapping jobs (union 1000..1600 = 600 ms) and one later
    # job (2000..2100), one shuffle stage
    _job_start(0, 1000, "serve:0:exact", [0]),
    _stage(0, "serve:0:exact"),
    _task(0, 30, records=40),
    _task(0, 50, records=60),
    _job_start(1, 1200, "serve:0:exact", [1]),
    _stage(1, "serve:0:exact"),
    _task(1, 10, shuffle_w=128),
    _job_end(0, 1500),
    _job_end(1, 1600),
    _job_start(2, 2000, "serve:0:exact", [2]),
    _stage(2, "serve:0:exact"),
    _task(2, 5),
    _job_end(2, 2100),
    # unlabeled work goes under ""
    _job_start(3, 3000, None, [3]),
    _stage(3, None),
    _task(3, 7),
    _job_end(3, 3010),
]


def _check(stats):
    a = stats["serve:0:exact"]
    assert (a.jobs, a.tasks) == (3, 4)
    assert a.executor_run_ms == 95
    assert a.shuffle_write_bytes == 128
    assert a.input_records == 100
    assert a.busy_ms() == 700
    assert stats[""].tasks == 1 and stats[""].busy_ms() == 10


def _write(path: Path, events) -> None:
    path.write_text("".join(json.dumps(e) + "\n" for e in events))


def test_single_file_layout(tmp_path):
    _write(tmp_path / "local-1700000000000", EVENTS)
    _check(eventlog.summarize(tmp_path))


def test_inprogress_single_file(tmp_path):
    _write(tmp_path / "local-1700000000000.inprogress", EVENTS)
    _check(eventlog.summarize(tmp_path))


def test_spark4_rolling_layout_reads_parts_in_order(tmp_path):
    d = tmp_path / "eventlog_v2_local-1700000000000"
    d.mkdir()
    (d / "appstatus_local-1700000000000.inprogress").write_text("")
    # part 10 sorts before part 2 as text; replay order must be numeric
    _write(d / "events_1_local-1700000000000", EVENTS[:5])
    _write(d / "events_2_local-1700000000000", EVENTS[5:12])
    _write(d / "events_10_local-1700000000000", EVENTS[12:])
    assert [p.name.split("_")[1] for p in eventlog.log_files(tmp_path)] == [
        "1", "2", "10"
    ]
    _check(eventlog.summarize(tmp_path))


def test_compressed_log_is_refused(tmp_path):
    (tmp_path / "local-1700000000000.zstd").write_bytes(b"\x28\xb5\x2f\xfd")
    with pytest.raises(ValueError, match="spark.eventLog.compress=false"):
        eventlog.summarize(tmp_path)


def test_union_length_merges_overlaps():
    assert eventlog.union_length([]) == 0
    assert eventlog.union_length([(5, 7), (0, 2), (1, 3)]) == 5
