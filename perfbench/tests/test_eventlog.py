"""The event-log parser against a recorded Spark 4.1 log.

``data/sf0001_eventlog.jsonl`` is the uncompressed event log of one
``local[4]`` session that ran, at sf0.001 and one after another,
``stream_stateful_reassembly`` (an ``applyInPandasWithState`` stream
drain), ``pandas_grouped_rank_normalize`` (a Python-worker query) and
``agg_hash_groupby``, each built through ``__spark_entry__.queries()`` and
run with ``bench.materialize``. Events and fields the parser does not read
were cut to keep the file small, and plan trees keep only the nodes on the
way to a file scan. ``data/sf0001_windows.json`` holds each execution's
(start, plan built, end) wall-clock times in epoch ms, and the sizes on disk
of the two fixture files the batch queries scan.
"""

import json
import os
import shutil

import pytest

from perfbench import layers

DATA = os.path.join(os.path.dirname(__file__), "data")


@pytest.fixture(scope="module")
def recorded():
    with open(os.path.join(DATA, "sf0001_windows.json"), encoding="utf-8") as f:
        windows = json.load(f)["windows"]
    with open(os.path.join(DATA, "sf0001_eventlog.jsonl"), encoding="utf-8") as f:
        log = layers.parse(f)
    rows = layers.per_execution(log, [(w[0], w[2]) for w in windows.values()])
    return log, dict(zip(windows, rows)), windows


def raw_tasks():
    with open(os.path.join(DATA, "sf0001_eventlog.jsonl"), encoding="utf-8") as f:
        events = [json.loads(line) for line in f]
    return [e for e in events if e["Event"] == "SparkListenerTaskEnd"]


def test_every_record_is_read(recorded):
    log, _, _ = recorded
    assert len(log.jobs) == 32
    assert len(log.stages) == 33
    assert len(log.tasks) == 48
    assert len(log.streams) == 1
    assert len(log.files_read) == 16


def test_all_work_falls_inside_the_three_windows(recorded):
    log, rows, _ = recorded
    assert sum(r["exec.tasks"] for r in rows.values()) == len(log.tasks)
    assert sum(r["exec.jobs"] for r in rows.values()) == len(log.jobs)


def test_stream_layer_only_on_the_stream_query(recorded):
    _, rows, windows = recorded
    s = rows["stream_stateful_reassembly"]
    assert s["stream.queries"] == 1
    assert s["stream.batches"] == 1
    assert s["stream.input_rows"] == 3140
    assert s["stream.trigger_s"] == pytest.approx(4.923)
    assert s["stream.add_batch_s"] == pytest.approx(4.311)
    assert s["stream.log_commit_s"] == pytest.approx(0.241)
    assert s["stream.state_rows_peak"] == 500
    assert 0 < s["stream.lifecycle_s"] < s["stream.wall_s"]
    # the drain runs inside the registry call, before the plan is returned
    start, built, _ = windows["stream_stateful_reassembly"]
    assert s["stream.wall_s"] < (built - start) / 1000.0
    for q in ("pandas_grouped_rank_normalize", "agg_hash_groupby"):
        assert rows[q]["stream.queries"] == 0 and rows[q]["stream.wall_s"] == 0


def test_python_worker_metrics(recorded):
    _, rows, _ = recorded
    for q in ("stream_stateful_reassembly", "pandas_grouped_rank_normalize"):
        assert rows[q]["python.active"] == 1
        assert rows[q]["python.run_s"] > 0 and rows[q]["python.returned_mb"] > 0
    assert rows["pandas_grouped_rank_normalize"]["python.sent_mb"] > 0
    agg = rows["agg_hash_groupby"]
    assert agg["python.active"] == 0 and agg["python.run_s"] == 0


def test_python_run_time_lies_within_its_task():
    """"time to run Python workers" counts from the task's runner start, so
    it can never exceed the task's run time."""
    n = 0
    for ev in raw_tasks():
        acc = {a["Name"]: int(a["Update"]) for a in ev["Task Info"]["Accumulables"]}
        if "time to run Python workers" in acc:
            n += 1
            assert acc["time to run Python workers"] <= ev["Task Metrics"]["Executor Run Time"]
    assert n == 9


def test_python_init_time_is_not_reported_because_it_counts_pool_idle_time():
    """A pooled worker's "initialize" time starts when it began waiting for
    its next task, so in this log it exceeds the run time of the very task
    it is reported for; the layer table leaves it out."""
    over = []
    for ev in raw_tasks():
        acc = {a["Name"]: int(a["Update"]) for a in ev["Task Info"]["Accumulables"]}
        init = acc.get("time to initialize Python workers", 0)
        if init > ev["Task Metrics"]["Executor Run Time"]:
            over.append(init)
    assert over
    assert not any(k.startswith(("python.init", "python.start")) for k in layers.METRICS)


def test_scan_input_is_the_size_of_the_files_scanned(recorded):
    """Each batch query scans one fixture file: scan.input_mb is that file's
    size on disk. The task metric "Bytes Read" saw only the footer."""
    _, rows, _ = recorded
    with open(os.path.join(DATA, "sf0001_windows.json"), encoding="utf-8") as f:
        file_bytes = json.load(f)["file_bytes"]
    for q, name in (("agg_hash_groupby", "lineitem.parquet"),
                    ("pandas_grouped_rank_normalize", "events.parquet")):
        assert rows[q]["scan.input_mb"] * layers.MB == file_bytes[name]
    footer = [ev["Task Metrics"]["Input Metrics"]["Bytes Read"] for ev in raw_tasks()
              if ev["Task Metrics"]["Input Metrics"]["Records Read"] == 6000]
    assert footer and max(footer) < file_bytes["lineitem.parquet"] / 10
def test_exec_and_scan_on_the_batch_query(recorded):
    _, rows, _ = recorded
    agg = rows["agg_hash_groupby"]
    assert agg["exec.jobs"] == 3 and agg["exec.tasks"] == 3
    assert agg["scan.input_rows"] == 6000  # lineitem at sf0.001, one scan task
    assert agg["scan.tasks"] == 1
    assert 0 < agg["exec.critical_path_s"] <= agg["exec.task_s"]
    assert 0 < agg["exec.s"] < 1.0


def test_read_log_takes_the_rolled_directory(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    with open(os.path.join(DATA, "sf0001_eventlog.jsonl"), encoding="utf-8") as f:
        lines = f.readlines()
    half = len(lines) // 2
    (app / "events_2_local-1").write_text("".join(lines[half:]))
    (app / "events_1_local-1").write_text("".join(lines[:half]))
    (app / "appstatus_local-1").write_text("")
    assert [os.path.basename(p) for p in layers.event_files(str(tmp_path))] == [
        "events_1_local-1", "events_2_local-1"]
    log = layers.read_log(str(tmp_path))
    assert len(log.tasks) == 48 and len(log.streams) == 1
    shutil.rmtree(app)
    with pytest.raises(ValueError):
        layers.event_files(str(tmp_path))
