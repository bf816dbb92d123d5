"""The stateful stream's embedded cross-check (``batch_consistent``), its
plan, and the size of its drain, at sf0.001.

The cross-check is a function of (stream manifest, consumed frames), so it
is fed here with no stream at all: the true manifest comes from the DuckDB
closed form over ``documents``/``events``, and each doctored copy of it must
turn the ``__summary__`` row's ``batch_consistent`` false. Without these
cases no test showed the check going false. Hand-written frames pin the
NULL-filename and conflicting-handshake rules; their manifests are what the
state machine itself emits for them.
"""

from __future__ import annotations

import os
from itertools import groupby

import pandas as pd
import pytest

from bench import materialize
from tests.oracle import duckdb_con
from tests.test_stateful_property import FakeState
from transf_spark.streaming import stateful
from transf_spark.streaming.stateful import (
    EVENT_SCHEMA,
    OUTPUT_SCHEMA,
    batch_cross_check,
    protocol_event_stream_dir,
    transfer_state_machine,
)

_COLS = [f.name for f in OUTPUT_SCHEMA.fields]
_UNKNOWN = "0" * 64


@pytest.fixture(scope="module")
def consumed(spark, sf_dir):
    """(frames, true manifest rows): the staged protocol frames the declared
    stream reads, and the manifest the oracle derives for them."""
    src_dir = protocol_event_stream_dir(spark, sf_dir, 1)
    frames = spark.read.schema(EVENT_SCHEMA).parquet(os.path.join(src_dir, "batch_00.parquet"))
    rows = duckdb_con(sf_dir).execute(
        f"SELECT {', '.join(_COLS)} FROM ({stateful._REASSEMBLY_ORACLE}) "
        "WHERE transfer_id <> '__summary__' ORDER BY transfer_id"
    ).fetchall()
    statuses = {r[1] for r in rows}
    assert {"done", "rejected_handshake"} <= statuses, statuses
    return frames, rows


def _drop_first(rows, status):
    i = next(i for i, r in enumerate(rows) if r[1] == status)
    return rows[:i] + rows[i + 1:], None


def _change_written(rows):
    i = next(i for i, r in enumerate(rows) if r[1] == "done")
    tid, status, fs, written, n_rej = rows[i]
    return rows[:i] + [(tid, status, fs, written + 1, n_rej)] + rows[i + 1:], tid


_DOCTORS = {
    "done_row_dropped": lambda rows: _drop_first(rows, "done"),
    "rejected_row_dropped": lambda rows: _drop_first(rows, "rejected_handshake"),
    "unknown_transfer_added": lambda rows: (rows + [(_UNKNOWN, "done", 10, 10, 0)], _UNKNOWN),
    "written_changed": _change_written,
}


def _check(spark, frames, rows) -> tuple[dict, dict]:
    """(detail rows by transfer_id, summary row) of the check over ``rows``."""
    out = batch_cross_check(spark.createDataFrame(rows, OUTPUT_SCHEMA), frames).collect()
    (summary,) = [r for r in out if r["transfer_id"] == "__summary__"]
    return {r["transfer_id"]: r for r in out if r["transfer_id"] != "__summary__"}, summary


def test_true_manifest_is_consistent(spark, consumed):
    frames, rows = consumed
    detail, summary = _check(spark, frames, rows)
    assert len(detail) == len(rows)
    assert all(r["batch_consistent"] for r in detail.values())
    assert summary["batch_consistent"] is True
    assert summary["filesize"] == sum(r[1] == "done" for r in rows)
    assert summary["written"] == sum(r[1] == "rejected_handshake" for r in rows)


@pytest.mark.parametrize("doctor", sorted(_DOCTORS))
def test_doctored_manifest_fails_the_check(spark, consumed, doctor):
    frames, rows = consumed
    doctored, bad_id = _DOCTORS[doctor](rows)
    detail, summary = _check(spark, frames, doctored)
    assert summary["batch_consistent"] is False
    if bad_id is not None:
        assert detail[bad_id]["batch_consistent"] is False


def _machine(frames) -> list[tuple]:
    """What the state machine emits for ``frames`` (EVENT_SCHEMA tuples),
    one transfer at a time, all frames in one micro-batch."""
    names = [f.name for f in EVENT_SCHEMA.fields]
    out = []
    for tid, rows in groupby(sorted(frames, key=lambda r: r[0]), key=lambda r: r[0]):
        pdf = pd.DataFrame(list(rows), columns=names)
        for res in transfer_state_machine((tid,), iter([pdf]), FakeState(), set_timeout=False):
            out.extend(tuple(r) for r in res[_COLS].itertuples(index=False))
    return out


def test_null_filename_handshake_is_a_rejected_handshake(spark):
    """The machine rejects a NULL filename; the check must expect that, not
    'done' (the reject ladder alone reads NULL as accepted)."""
    frames = [
        ("B", "HS", 0, 0, "b.txt", 7), ("B", "TRANSFER", 1, 7, "", 0),
        ("D", "HS", 0, 0, None, 7), ("D", "TRANSFER", 1, 7, "", 0),
    ]
    manifest = _machine(frames)
    assert sorted(manifest) == [("B", "done", 7, 7, 0), ("D", "rejected_handshake", 7, 0, 0)]
    detail, summary = _check(spark, spark.createDataFrame(frames, EVENT_SCHEMA), manifest)
    assert {tid: r["batch_consistent"] for tid, r in detail.items()} == {"B": True, "D": True}
    assert (summary["filesize"], summary["written"], summary["batch_consistent"]) == (1, 1, True)


def test_conflicting_handshakes_keep_one_row_per_manifest_row(spark):
    """A transfer whose HS frames disagree (A: two filesizes, C: a rejected
    and an accepted filename) has no single expected outcome: its row and
    the summary read false, and no manifest row is repeated."""
    frames = [
        ("A", "HS", 0, 0, "a.txt", 5), ("A", "HS", 0, 0, "a.txt", 9), ("A", "TRANSFER", 1, 5, "", 0),
        ("B", "HS", 0, 0, "b.txt", 3), ("B", "TRANSFER", 1, 3, "", 0),
        ("C", "HS", 0, 0, "/abs", 4), ("C", "HS", 0, 0, "ok.txt", 4), ("C", "TRANSFER", 1, 4, "", 0),
    ]
    manifest = _machine(frames)
    assert sorted(manifest) == [
        ("A", "done", 5, 5, 0), ("B", "done", 3, 3, 0), ("C", "rejected_handshake", 4, 0, 0)
    ]
    out = batch_cross_check(
        spark.createDataFrame(manifest, OUTPUT_SCHEMA), spark.createDataFrame(frames, EVENT_SCHEMA)
    ).collect()
    assert sorted(r["transfer_id"] for r in out) == ["A", "B", "C", "__summary__"]
    ok = {r["transfer_id"]: r["batch_consistent"] for r in out}
    assert ok["A"] is False and ok["C"] is False and ok["__summary__"] is False


def test_check_runs_in_three_jobs_and_scans_the_frames_once(spark, consumed):
    """The check is one shuffle by transfer plus one single-partition count
    step: building and materializing it runs at most 3 Spark jobs, and its
    executed plan reads the frames file once."""
    frames, rows = consumed
    sc = spark.sparkContext
    group = "batch_cross_check_plan_gate"
    sc.setJobGroup(group, group)
    try:
        df = batch_cross_check(spark.createDataFrame(rows, OUTPUT_SCHEMA), frames)
        materialize(df)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 3, jobs
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln and "batch_00.parquet" in ln]
    assert len(scans) == 1, plan


def test_drain_runs_one_state_partition_per_core(spark, sf_dir, monkeypatch):
    counts: list = []
    real = stateful.drain_session

    def recording(s, n):
        counts.append(n)
        return real(s, n)

    monkeypatch.setattr(stateful, "drain_session", recording)
    out = stateful.stream_stateful_reassembly(spark, sf_dir)
    assert out.filter("NOT batch_consistent").count() == 0
    assert counts == [spark.sparkContext.defaultParallelism]
