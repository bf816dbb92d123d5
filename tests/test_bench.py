"""``bench.py`` checks its ``SPARK_GRAFT_HEADLINE`` subset before Spark
starts: a misspelt name would otherwise time a partial set without a word."""

from __future__ import annotations

import os
import subprocess
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_unknown_subset_name_exits_before_spark():
    # a JAVA_HOME with no java: reaching get_spark would fail differently
    env = {
        **os.environ,
        "SPARK_GRAFT_HEADLINE": "agg_hash_groupby,no_such_query",
        "JAVA_HOME": "/nonexistent",
    }
    proc = subprocess.run(
        [sys.executable, os.path.join(_REPO, "bench.py")],
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stderr.strip().splitlines()[-1] == (
        "bench.py: unknown SPARK_GRAFT_HEADLINE names: no_such_query"
    )
    assert proc.stdout == ""
