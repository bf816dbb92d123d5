"""stage_once contract: stage-once reuse, keep-alive touch, and the
round-15 age-gated sibling eviction (a concurrent process's live staging
dir must survive another tag's stage; stale generations and crashed
half-stages must not). Also load_table's scan re-layout as a stage user:
a memo hit keeps the stage alive, and a small table is never staged."""

import os
import shutil
import time

import pyarrow.parquet as pq

from tests.test_memo_contract import _reactivate
from transf_spark.sources import tables


def _mk(prefix: str, tag: str, calls: list) -> str:
    def write(out: str) -> None:
        os.makedirs(out, exist_ok=True)
        calls.append(out)

    return tables.stage_once(prefix, tag, write)


def test_stage_once_reuses_and_touches(tmp_path):
    prefix = str(tmp_path / "site_")
    calls: list = []
    out = _mk(prefix, "aaaa", calls)
    marker = os.path.join(out, "_READY")
    assert os.path.exists(marker) and calls == [out]
    old = os.stat(marker).st_mtime
    os.utime(marker, (old - 100, old - 100))
    assert _mk(prefix, "aaaa", calls) == out
    assert calls == [out], "reuse must not restage"
    assert os.stat(marker).st_mtime > old - 100, "reuse must touch the marker"


def test_fresh_sibling_survives_other_tag_stage(tmp_path):
    prefix = str(tmp_path / "site_")
    calls: list = []
    a = _mk(prefix, "aaaa", calls)  # fresh _READY: an active concurrent stage
    _mk(prefix, "bbbb", calls)
    assert os.path.exists(os.path.join(a, "_READY")), (
        "a recently-touched sibling must survive another tag's staging"
    )


def test_stale_and_markerless_siblings_evicted(tmp_path):
    prefix = str(tmp_path / "site_")
    calls: list = []
    stale = _mk(prefix, "aaaa", calls)
    m = os.path.join(stale, "_READY")
    past = time.time() - tables._EVICT_AGE_SEC - 10
    os.utime(m, (past, past))
    crashed = prefix + "cccc"  # markerless leftover of a crashed stage
    os.makedirs(crashed)
    _mk(prefix, "bbbb", calls)
    assert not os.path.exists(stale), "aged-out sibling must be evicted"
    assert not os.path.exists(crashed), "markerless sibling must be evicted"


def _staged_file(df) -> str:
    (f,) = df.inputFiles()
    return f.removeprefix("file://")


def test_memo_hit_touches_relayout_marker(spark, sf_dir, tmp_path):
    """A memo hit on a re-laid table never builds, so it must re-touch the
    stage itself: a long-lived session's staged file would otherwise age
    out under another fixture's stage and fail its next scan."""
    d = str(tmp_path / "fx")
    os.makedirs(d)
    shutil.copy(f"{sf_dir}/lineitem.parquet", d)
    s = spark.newSession()
    try:
        s.conf.set("spark.sql.files.openCostInBytes", "30000")
        df = tables.load_table(s, d, "lineitem")
        marker = os.path.join(os.path.dirname(_staged_file(df)), "_READY")
        past = time.time() - tables._EVICT_AGE_SEC - 10
        os.utime(marker, (past, past))
        assert tables.load_table(s, d, "lineitem") is df, "expected a memo hit"
        assert os.stat(marker).st_mtime > past + 5, "hit left the stage to age out"
    finally:
        _reactivate(spark)


def test_small_table_never_opens_footer(spark, sf_dir, tmp_path, monkeypatch):
    """The re-layout test reads the file size first: a table under
    ``openCostInBytes`` is scanned in place without a footer read."""

    def boom(*a, **k):
        raise AssertionError("footer opened for a table under the floor")

    d = str(tmp_path / "fx")
    os.makedirs(d)
    shutil.copy(f"{sf_dir}/nation.parquet", d)
    monkeypatch.setattr(pq, "read_metadata", boom)
    df = tables.load_table(spark, d, "nation")
    assert _staged_file(df) == os.path.join(d, "nation.parquet")
