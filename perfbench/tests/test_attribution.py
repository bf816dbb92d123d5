"""Wall-window attribution of event-log records to query executions."""

import json

import pytest

from perfbench import layers


def test_find_names_the_window_holding_a_time():
    w = layers.Windows([(100, 200), (0, 50), (250, 300)])
    assert w.find(0) == 1
    assert w.find(50) == 1
    assert w.find(150) == 0
    assert w.find(300) == 2
    assert w.find(60) is None  # between windows
    assert w.find(301) is None
    assert w.find(-1) is None


def test_overlapping_windows_are_refused():
    with pytest.raises(ValueError):
        layers.Windows([(0, 100), (90, 200)])


def _ev(**kw):
    return json.dumps(kw)


def _task(stage, launch, finish, run_ms, py_ms=None, **metrics):
    acc = [] if py_ms is None else [{"Name": "time to run Python workers", "Update": str(py_ms)}]
    return _ev(**{
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish, "Accumulables": acc},
        "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": 1,
                         "Input Metrics": {"Bytes Read": metrics.get("in_bytes", 0),
                                           "Records Read": metrics.get("in_rows", 0)}},
    })


def _stage(sid, submit, complete):
    return _ev(Event="SparkListenerStageCompleted", **{"Stage Info": {
        "Stage ID": sid, "Submission Time": submit, "Completion Time": complete,
        "Number of Tasks": 1}})


def test_records_go_to_the_window_of_their_own_time():
    lines = [
        # before any window: left out
        _ev(Event="SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 5}),
        _ev(Event="SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 8}),
        # window 0: two overlapping jobs, one stage of two tasks
        _ev(Event="SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 110}),
        _ev(Event="SparkListenerJobStart", **{"Job ID": 2, "Submission Time": 120}),
        # a SQL execution whose scan reads a 1 MB file (id 7) of one file (id 6)
        _ev(Event=layers._SQL + "SQLExecutionStart", executionId=0, time=105, sparkPlanInfo={
            "nodeName": "HashAggregate", "metrics": [], "children": [{
                "nodeName": "Scan parquet", "children": [], "metrics": [
                    {"name": "number of files read", "accumulatorId": 6},
                    {"name": "size of files read", "accumulatorId": 7}]}]}),
        _ev(Event=layers._SQL + "DriverAccumUpdates", executionId=0,
            accumUpdates=[[6, 1], [7, layers.MB]]),
        _task(0, 111, 150, 30, in_bytes=100, in_rows=10),
        _task(0, 112, 160, 40),
        _stage(0, 110, 160),
        _ev(Event="SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 160}),
        _ev(Event="SparkListenerJobEnd", **{"Job ID": 2, "Completion Time": 170}),
        # window 1: a stream whose terminate event carries no time
        _ev(Event=layers._STREAM + "QueryStartedEvent", runId="r1",
            timestamp="1970-01-01T00:00:00.300Z"),
        _ev(Event="SparkListenerJobStart", **{"Job ID": 3, "Submission Time": 310}),
        _task(1, 311, 340, 25, py_ms=20),
        _stage(1, 310, 340),
        _ev(Event="SparkListenerJobEnd", **{"Job ID": 3, "Completion Time": 345}),
        _ev(Event=layers._STREAM + "QueryProgressEvent", progress={
            "runId": "r1", "timestamp": "1970-01-01T00:00:00.305Z", "batchDuration": 40,
            "sources": [{"numInputRows": 7}], "durationMs": {"triggerExecution": 40, "addBatch": 30,
                                              "walCommit": 2, "commitOffsets": 3},
            "stateOperators": [{"numRowsTotal": 4, "commitTimeMs": 5, "memoryUsedBytes": 2048}]}),
        _ev(Event=layers._STREAM + "QueryTerminatedEvent", runId="r1"),
    ]
    log = layers.parse(lines)
    assert log.streams[0].end_ms == 345  # latest time logged before the terminate event
    rows = layers.per_execution(log, [(100, 200), (300, 400)])
    a, b = rows
    assert a["exec.jobs"] == 2 and b["exec.jobs"] == 1
    assert a["exec.s"] == pytest.approx(0.060)  # union of 110-160 and 120-170
    assert a["exec.tasks"] == 2 and a["exec.task_s"] == pytest.approx(0.070)
    assert a["exec.critical_path_s"] == pytest.approx(0.040)
    assert a["scan.input_mb"] == pytest.approx(1.0) and a["scan.tasks"] == 1
    assert b["scan.input_mb"] == 0
    assert a["stream.queries"] == 0 and a["python.active"] == 0
    assert b["stream.queries"] == 1 and b["stream.batches"] == 1
    assert b["stream.input_rows"] == 7
    assert b["stream.log_commit_s"] == pytest.approx(0.005)
    assert b["stream.wall_s"] == pytest.approx(0.045)
    assert b["stream.lifecycle_s"] == pytest.approx(0.005)
    assert b["stream.state_mb_peak"] == pytest.approx(2048 / layers.MB)
    assert b["python.run_s"] == pytest.approx(0.020) and b["python.active"] == 1

    total = layers.per_pass(rows)
    assert total["exec.jobs"] == 3
    assert total["exec.core_use"] == pytest.approx(0.095 / 0.095)
    assert total["stream.rows_per_s"] == pytest.approx(7 / 0.045)
    assert total["stream.state_rows_peak"] == 4
