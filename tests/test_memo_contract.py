"""Contract of every ``transf_spark.memo`` call site, on an sf0.001 copy.

For each site:

- (a) a repeat call takes the hit path — the session's slot for the
  site's key is the same object afterwards;
- (b) after ``os.utime`` on the source parquet the next call rebuilds the
  slot under a new fingerprint;
- (c) after three regenerations the session holds the same keys as after
  the first call — one slot per key, never one per fingerprint;
- (d) a ``newSession()`` that held entries and is then dropped is
  collected once another session is active — nothing outlives its
  session.

Each case runs on a copy of the sf0.001 fixture (``sf_dir``) under
``tmp_path``.
"""

from __future__ import annotations

import gc
import os
import shutil
import weakref

import pytest

from transf_spark.memo import STORE
from transf_spark.operators.clustering import _minhash_pairs, dedup_cluster_cc
from transf_spark.operators.similarity import (
    _bf_baseline_cached,
    _bucketed,
    _corpus_dim,
    _emb_double,
    ann_ivf_topk,
)
from transf_spark.sources.tables import load_table, register_views

# id -> (tables copied, source parquet touched, call(spark, d), key(d))
SITES = {
    "load_table": (
        ("nation",),
        "nation",
        lambda s, d: load_table(s, d, "nation"),
        lambda d: os.path.join(d, "nation.parquet"),
    ),
    "register_views": (
        ("nation", "region"),
        "nation",
        register_views,
        lambda d: ("views",),
    ),
    "_emb_double": (
        ("embeddings",),
        "embeddings",
        lambda s, d: _emb_double(s, d, uniform=True),
        lambda d: ("emb_double", d, True),
    ),
    "_bucketed": (
        ("embeddings",),
        "embeddings",
        lambda s, d: _bucketed(s, d, flips=2),
        lambda d: ("bucketed", d, 2, False),
    ),
    "_corpus_dim": (
        ("embeddings",),
        "embeddings",
        _corpus_dim,
        lambda d: ("corpus_dim", d),
    ),
    "bf_baseline": (
        ("embeddings",),
        "embeddings",
        _bf_baseline_cached,
        lambda d: ("bf_baseline", d),
    ),
    "ivf_centroids": (
        ("embeddings",),
        "embeddings",
        ann_ivf_topk,
        lambda d: ("ivf_centroids", d),
    ),
    "minhash_pairs": (
        ("documents",),
        "documents",
        _minhash_pairs,
        lambda d: ("minhash_pairs", d),
    ),
    "cc_labels": (
        ("documents",),
        "documents",
        dedup_cluster_cc,
        lambda d: ("cc_labels", d),
    ),
}


def _regenerate(path: str) -> None:
    """An in-place fixture regeneration, as the fingerprint sees it."""
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))


def _exercise(s, site: str, d: str) -> None:
    _, src, call, key_of = SITES[site]
    key = key_of(d)
    src_path = os.path.join(d, f"{src}.parquet")
    call(s, d)
    store = getattr(s, STORE)
    first = store[key]
    keys = set(store)
    # (a) repeat call: hit path
    call(s, d)
    assert store[key] is first, "repeat call rebuilt the slot"
    # (b) regeneration: rebuild under a new fingerprint
    _regenerate(src_path)
    call(s, d)
    assert store[key] is not first and store[key][0] != first[0], (
        "regenerated fixture served the stale slot"
    )
    # (c) two more regenerations (three in all): still one slot per key
    for _ in range(2):
        before = store[key]
        _regenerate(src_path)
        call(s, d)
        assert store[key] is not before
    assert set(store) == keys, f"slots grew: {set(store) - keys}"


def _reactivate(spark) -> None:
    """Point PySpark's process-wide session hooks back at ``spark``: the
    active session (taken by any session's createDataFrame) and
    ``RDD.toDF`` (bound to the last session constructed)."""
    from pyspark.sql.session import _monkey_patch_RDD

    spark.createDataFrame([(0,)], "x int")
    _monkey_patch_RDD(spark)


@pytest.mark.parametrize("site", sorted(SITES))
def test_memo_call_site_contract(spark, sf_dir, tmp_path, site):
    d = str(tmp_path / "fx")
    os.makedirs(d)
    for t in SITES[site][0]:
        shutil.copy(f"{sf_dir}/{t}.parquet", f"{d}/{t}.parquet")
    s = spark.newSession()
    try:
        _exercise(s, site, d)
        assert getattr(s, STORE), "the site memoized nothing on its session"
        ref = weakref.ref(s)
        del s
    finally:
        _reactivate(spark)
    gc.collect()
    # (d) the dropped session and everything it memoized are collectable
    assert ref() is None, "a dropped session outlived its memo entries"
