"""The stateful stream's embedded cross-check (``batch_consistent``) and the
size of its drain, at sf0.001.

The cross-check is a function of (stream manifest, consumed frames), so it
is fed here with no stream at all: the true manifest comes from the DuckDB
closed form over ``documents``/``events``, and each doctored copy of it must
turn the ``__summary__`` row's ``batch_consistent`` false. Without these
cases no test showed the check going false.
"""

from __future__ import annotations

import os

import pytest

from tests.oracle import duckdb_con
from transf_spark.streaming import stateful
from transf_spark.streaming.stateful import (
    EVENT_SCHEMA,
    OUTPUT_SCHEMA,
    batch_cross_check,
    protocol_event_stream_dir,
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
