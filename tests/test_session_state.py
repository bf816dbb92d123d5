"""Per-session state the engine keeps outside its queries: conf pinning,
Python DataSource registration, memory-sink names and bucketed-table
staging. All of it lives in the session's ``memo`` slots or in the data
itself, never in process globals or in private keys of the session's conf.

Every case runs at sf0.001 on a ``newSession()``, made the active session
first (``_reactivate``), and re-activates the main test session afterwards,
except ``test_datasources_on_an_inactive_session``: Spark refuses to register
a source that the ACTIVE session already has (DATA_SOURCE_ALREADY_EXISTS),
and that case checks the engine registers on a session that is not active.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import DataSourceRegistration
from pyspark.sql.streaming.readwriter import DataStreamWriter
from pyspark.sql.streaming.state import GroupStateTimeout

from tests.test_memo_contract import _reactivate
from transf_spark.session import RUNTIME_CONFS, drain_session, ensure_conf
from transf_spark.sources import formats, tables
from transf_spark.sources.formats import scan_python_datasource
from transf_spark.sources.tables import load_table
from transf_spark.streaming import stateful, windows


@pytest.fixture
def fresh(spark):
    s = spark.newSession()
    _reactivate(s)
    try:
        yield s
    finally:
        _reactivate(spark)


def _count_conf_sets(s, monkeypatch) -> list:
    calls: list = []
    real = s.conf.set

    def counting(key, value):
        calls.append(key)
        return real(key, value)

    monkeypatch.setattr(s.conf, "set", counting)
    return calls


def test_ensure_conf_pins_on_first_call_only(fresh, sf_dir, monkeypatch):
    calls = _count_conf_sets(fresh, monkeypatch)
    ensure_conf(fresh)
    assert sorted(calls) == sorted({**RUNTIME_CONFS, "spark.sql.shuffle.partitions": ""})
    ensure_conf(fresh)
    load_table(fresh, sf_dir, "nation")
    assert len(calls) == len(RUNTIME_CONFS) + 1, f"re-pinned: {calls[len(RUNTIME_CONFS) + 1:]}"


def test_drain_session_shuffle_pin_survives(spark, sf_dir):
    d = drain_session(spark, 3)
    try:
        ensure_conf(d)
        load_table(d, sf_dir, "nation")
        assert d.conf.get("spark.sql.shuffle.partitions") == "3"
    finally:
        _reactivate(spark)


def test_datasource_registered_once_per_session(spark, monkeypatch):
    names: list = []
    real = DataSourceRegistration.register

    def counting(self, source_cls):
        names.append(source_cls.name())
        return real(self, source_cls)

    monkeypatch.setattr(DataSourceRegistration, "register", counting)
    sessions = [spark.newSession(), spark.newSession()]
    try:
        for s in sessions:
            _reactivate(s)
            for _ in range(3):
                df = scan_python_datasource(s, "unused")
        assert names == ["transf_synth_docs"] * 2
        # the second session's registration is its own, and it serves reads
        assert df.agg({"n_rows": "sum"}).first()[0] == formats.PYSRC_N
    finally:
        _reactivate(spark)


class _Named(Exception):
    """Raised in place of starting a stream, once its sink is named."""


def test_memory_sink_names_never_repeat(fresh, sf_dir, monkeypatch):
    names: list = []

    def record(self, name):
        names.append(name)
        raise _Named

    monkeypatch.setattr(DataStreamWriter, "queryName", record)
    builds = [
        lambda: windows.stream_dedup_exact(fresh, sf_dir),
        lambda: stateful.run_stateful_reassembly(
            fresh, sf_dir, timeout_conf=GroupStateTimeout.NoTimeout
        ),
        lambda: stateful.run_stateful_reassembly(fresh, sf_dir),  # ProcessingTimeTimeout
    ]
    for build in builds * 2:
        with pytest.raises(_Named):
            build()
    assert len(names) == 6 and len(set(names)) == 6, names
    assert sum(n.startswith("stateful_reassembly_pt_") for n in names) == 2


def test_engine_writes_no_private_conf_keys(fresh, sf_dir, monkeypatch):
    drains: list = []

    def recording(spark, n):
        drains.append(drain_session(spark, n))
        return drains[-1]

    monkeypatch.setattr(windows, "drain_session", recording)
    load_table(fresh, sf_dir, "nation")
    assert windows.stream_ack_verify_join(fresh, sf_dir).count() > 0
    scan_python_datasource(fresh, sf_dir)
    assert drains, "the stream query built no drain session"
    for s in (fresh, *drains):
        private = [k for k in s.conf.getAll if k.startswith("spark.transf_spark.")]
        assert not private, private


def test_bucketed_table_after_another_process_staged(spark, sf_dir, tmp_path, monkeypatch):
    """The stage is completed by another process: this call's ``write_fn``
    never runs, so this catalog never sees that write's ``saveAsTable``.
    The table must still resolve, through the metadata-only DDL."""
    from transf_spark.sources.sinks import write_bucketed

    d = str(tmp_path / "fx")
    os.makedirs(d)
    shutil.copy(f"{sf_dir}/orders.parquet", d)
    cols = ["o_orderkey", "o_orderpriority"]
    real = tables.stage_once
    staged: list = []

    def other_process_wins(prefix, tag, write_fn):
        def other_write(out: str) -> None:
            df = load_table(spark, d, "orders").select(*cols)
            write_bucketed(df, "other_proc", "o_orderkey", 8, sort_col="o_orderkey", path=out)
            spark.sql("DROP TABLE other_proc")  # external: the files stay

        staged.append(real(prefix, tag, other_write))
        return staged[-1]

    monkeypatch.setattr(tables, "stage_once", other_process_wins)
    try:
        got = formats._bucketed_table(spark, d, "orders", "o_orderkey", cols)
        want = load_table(spark, d, "orders").select(*cols)
        assert sorted(got.collect()) == sorted(want.collect())
    finally:
        tag = tables.staging_tag(d, "orders", extra="bucket8:o_orderkey")
        spark.sql(f"DROP TABLE IF EXISTS orders_b_{tag}")
        for out in staged:
            shutil.rmtree(out, ignore_errors=True)


def _temp_views(s) -> set:
    return {t.name for t in s.catalog.listTables() if t.isTemporary}


def test_memory_sink_drains_leave_no_views(fresh, sf_dir):
    """Each drain drops its memory-sink view from the stream's session; the
    DataFrame it returned still reads every row, since its plan holds the
    sink itself."""
    docs = load_table(fresh, sf_dir, "documents")
    emb = load_table(fresh, sf_dir, "embeddings")
    want = {
        windows.stream_dedup_exact: docs.select(F.sha2("text", 256)).distinct().count(),
        windows.stream_static_enrich: docs.join(emb, docs.doc_id == emb.vec_id).count(),
    }
    before = _temp_views(fresh)
    got = [(build, build(fresh, sf_dir)) for build in want for _ in range(3)]
    assert _temp_views(fresh) == before
    assert not fresh.streams.active
    for build, df in got:
        assert df.count() == want[build] > 0, build.__name__


def test_datasources_on_an_inactive_session(spark, sf_dir):
    """The main session registers all three Python DataSources first; a
    session that is not the active one then registers and reads its own."""
    builds = (
        scan_python_datasource,
        formats.scan_avro_roundtrip,
        formats.scan_avro_logical_typed,
    )
    _reactivate(spark)
    want = [sorted(build(spark, sf_dir).collect()) for build in builds]
    other = spark.newSession()
    try:
        got = [sorted(build(other, sf_dir).collect()) for build in builds]
        assert got == want
    finally:
        _reactivate(spark)
