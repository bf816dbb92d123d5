"""Oracle parity through the scan re-layout, forced at sf0.001.

No sf0.001 table passes the default 4 MB ``openCostInBytes`` floor, so
tier-1 would never exercise the staged copies that sf0.1 scans. A
``newSession()`` with the floor lowered to ``OPEN_COST`` re-lays
``lineitem`` (117 KB) and ``orders`` (37 KB) while every smaller table
they join with stays in place. On it:

- each staged copy equals its source as an Arrow table, schema and
  metadata included, and has at least K row groups;
- the ``lineitem`` scan puts rows in more than one partition (one, before
  the re-layout: a single row group is never split);
- every oracle query whose SQL reads ``lineitem`` or ``orders`` still
  matches DuckDB exactly, DuckDB reading the original files.
"""

from __future__ import annotations

import os
import re

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tests.oracle import compare, duckdb_con
from tests.test_memo_contract import _reactivate
from transf_spark import queries as q
from transf_spark.sources.tables import RG_PER_CORE, load_table, table_path

OPEN_COST = 30_000


@pytest.fixture(scope="module")
def relaid(spark):
    s = spark.newSession()
    try:
        s.conf.set("spark.sql.files.openCostInBytes", str(OPEN_COST))
        yield s
    finally:
        _reactivate(spark)


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_con(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", ["lineitem", "orders"])
def test_staged_copy_equals_source(relaid, sf_dir, name):
    src = table_path(sf_dir, name)
    assert os.path.getsize(src) > OPEN_COST
    (staged,) = load_table(relaid, sf_dir, name).inputFiles()
    staged = staged.removeprefix("file://")
    assert staged != os.path.abspath(src), "the table was not re-laid"
    assert pq.read_table(staged).equals(pq.read_table(src), check_metadata=True)
    k = RG_PER_CORE * relaid.sparkContext.defaultParallelism
    assert pq.read_metadata(staged).num_row_groups >= k


def test_lineitem_scan_fills_several_partitions(relaid, sf_dir):
    li = load_table(relaid, sf_dir, "lineitem")
    filled = li.groupBy(F.spark_partition_id()).count().count()
    assert filled > 1, "lineitem is still read by one task"


def _reads_relaid(sql: str) -> bool:
    return re.search(r"\b(lineitem|orders)\b", sql) is not None


@pytest.mark.parametrize(
    "name", sorted(n for n, sql in q.oracle_sql().items() if _reads_relaid(sql))
)
def test_relaid_query_matches_oracle(relaid, sf_dir, con, name):
    spec = q.REGISTRY[name]
    problems = compare(spec.fn(relaid, sf_dir), con, spec.oracle)
    assert not problems, f"{name}: " + "; ".join(problems)
