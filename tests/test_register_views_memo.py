"""register_views memoization: byte-identical re-registration is skipped,
while a different sf_dir, a regenerated fixture, or a vanished table all
force a real re-registration (the drop-absent contract must survive the
memo). Registration work is observed by counting createOrReplaceTempView
calls — the py4j round trips the memo exists to skip."""

import os
import shutil

import pytest

from transf_spark.sources import tables

SF_A = "/root/testdata/sf0.001"
SF_B = "/root/testdata/sf0.01"


@pytest.fixture
def registrations(spark, monkeypatch):
    """List that grows by one view name per createOrReplaceTempView call."""
    calls: list[str] = []
    cls = type(spark.range(0))  # the concrete (classic) DataFrame class
    real = cls.createOrReplaceTempView

    def counting(self, name):
        calls.append(name)
        return real(self, name)

    monkeypatch.setattr(cls, "createOrReplaceTempView", counting)
    return calls


def test_noop_recall_skips_py4j_and_fixture_switch_invalidates(spark, registrations):
    tables.register_views(spark, SF_A)
    registrations.clear()
    # identical recall: no re-registration
    tables.register_views(spark, SF_A)
    assert registrations == []
    # view actually resolves
    assert spark.table("nation").count() > 0
    # switching fixtures re-registers (row counts must change)
    n_a = spark.table("orders").count()
    tables.register_views(spark, SF_B)
    assert "orders" in registrations
    assert spark.table("orders").count() != n_a
    tables.register_views(spark, SF_A)
    assert spark.table("orders").count() == n_a


def test_external_drop_is_healed_on_next_register(spark, registrations):
    """An external DROP VIEW between two byte-identical register_views
    calls must not leave the skip path serving a missing view —
    tableExists verification re-registers."""
    tables.register_views(spark, SF_A)
    spark.catalog.dropTempView("nation")
    registrations.clear()
    tables.register_views(spark, SF_A)  # snapshot identical — hit path
    assert "nation" in registrations
    assert spark.table("nation").count() > 0


def test_absent_table_dropped_and_regeneration_invalidates(spark, tmp_path, registrations):
    # partial fixture: only nation present
    part = tmp_path / "partial"
    part.mkdir()
    shutil.copy(os.path.join(SF_A, "nation.parquet"), part / "nation.parquet")
    tables.register_views(spark, str(part))
    assert spark.table("nation").count() > 0
    try:
        spark.table("orders")
        raised = False
    except Exception:
        raised = True
    assert raised, "absent table's view must be dropped, not served stale"
    # in-place regeneration (mtime/size change) must bust the memo
    shutil.copy(os.path.join(SF_B, "nation.parquet"), part / "nation.parquet")
    registrations.clear()
    tables.register_views(spark, str(part))
    assert registrations == ["nation"]
    # restore full fixture for any later test in this session
    tables.register_views(spark, SF_A)
