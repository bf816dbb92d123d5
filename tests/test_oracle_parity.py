"""Every oracle-checkable declared query must match DuckDB exactly at
sf0.001 (fast) — the local twin of the driver's sf0.01 gate."""

from __future__ import annotations

import os

import pytest

from tests.oracle import compare, duckdb_con
from transf_spark import queries as q

# Default sf0.001 for speed; CI-style full check: TRANSF_SPARK_TEST_SF=/root/testdata/sf0.01
SF = os.environ.get("TRANSF_SPARK_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def con():
    c = duckdb_con(SF)
    yield c
    c.close()


def _oracle_cases():
    oracles = q.oracle_sql()
    return sorted(oracles.keys())


@pytest.mark.parametrize("name", _oracle_cases())
def test_query_matches_oracle(spark, con, name):
    spec = q.REGISTRY[name]
    df = spec.fn(spark, SF)
    problems = compare(df, con, spec.oracle)
    assert not problems, f"{name}: " + "; ".join(problems)


def test_comparator_rejects_hugeint_oracle(spark, con):
    """Round-4 regression: an un-CAST SUM(int) oracle returns DuckDB HUGEINT,
    which the driver's pandas canonicalizer coerces to float64 → hash
    mismatch against Spark LongType even with equal values. The local
    comparator used to fetch type-blind Python ints and pass; it must now
    reject the oracle outright BEFORE value comparison."""
    from pyspark.sql import functions as F

    df = spark.range(1).select(F.lit(3).cast("long").alias("s"))
    problems = compare(df, con, "SELECT SUM(x) AS s FROM (SELECT CAST(3 AS BIGINT) AS x)")
    assert problems, "values are equal — only a type check can catch this"
    assert "HUGEINT" in problems[0]
    # and the CAST fix passes
    assert not compare(
        df, con, "SELECT CAST(SUM(x) AS BIGINT) AS s FROM (SELECT CAST(3 AS BIGINT) AS x)"
    )


def test_rows_only_queries_run(spark):
    """Non-oracle queries must at least execute and return a stable schema."""
    for name, spec in q.REGISTRY.items():
        if spec.oracle is not None:
            continue
        df = spec.fn(spark, SF)
        assert df.columns, name
        df.limit(5).collect()


def test_readme_query_count_matches_registry():
    """Docs-honesty gate (ADVICE round 1): the README's declared-query count
    is derived from the registry, not hand-maintained."""
    import re

    with open("README.md") as f:
        m = re.search(r"(\d+) declared queries total \((\d+) oracle-checked \+ (\d+) rows-only\)", f.read())
    assert m, "README is missing the declared-query count line"
    total, oracled, rows_only = map(int, m.groups())
    assert total == len(q.queries())
    assert oracled == len(q.oracle_sql())
    assert rows_only == total - oracled


def test_survey_inventory_matches_registry():
    """SURVEY §2.B twin of the README gate: the count line AND the table's
    row set must both track the registry (round 2 shipped a stale table)."""
    import re

    with open("SURVEY.md") as f:
        text = f.read()
    m = re.search(r"\((\d+) declared queries — (\d+) oracle-checked, (\d+) rows-only", text)
    assert m, "SURVEY.md is missing the declared-query count line"
    total, oracled, rows_only = map(int, m.groups())
    assert total == len(q.queries())
    assert oracled == len(q.oracle_sql())
    assert rows_only == total - oracled
    sec = text.split("### 2.B", 1)[1].split("declared queries —", 1)[0]
    table = set(re.findall(r"^\| `([a-z0-9_]+)`", sec, re.M))
    assert table == set(q.queries()), (
        f"missing from table: {set(q.queries()) - table}; "
        f"stale in table: {table - set(q.queries())}"
    )


def test_registry_emits_validation_debt_first():
    """Grading-window gate (round-3 lesson: the driver writes at most 50
    CORRECTNESS entries per round — cheap-first ordering spent all 50 on
    already-green queries and starved the never-graded tail). Priorities
    are now DERIVED from the committed CORRECTNESS_r*.json history
    (round-4 verdict item 3): red/never-graded queries emit first, then
    greens oldest-round-first, and every non-fresh query must land inside
    the 50-entry window."""
    names = list(q.queries())
    assert set(names) == set(q.REGISTRY), "ordering dropped or invented queries"
    hist = q._correctness_history()
    prios = [q._grading_priority(n, hist) for n in names]
    assert prios == sorted(prios), (
        "debt-priority ordering violated: "
        + ", ".join(f"{n}(p{p})" for n, p in zip(names, prios))
    )
    # The registry outgrew 50 + one round's additions in round 5, so not
    # every *stale-green* query fits one window anymore — those rotate
    # oldest-first across rounds (the sorted-priority assertion above).
    # What must NEVER be starved is the priority −1 set: never-graded or
    # red queries, which have no green row at all.
    critical = [n for n, p in zip(names, prios) if p < 0]
    assert len(critical) <= 50, (
        f"{len(critical)} never-graded/red queries exceed the driver's "
        "50-entry window — stop adding queries until they grade"
    )
    if critical:
        assert max(names.index(n) for n in critical) < 50, (
            "a never-graded/red query sits outside the driver's 50-entry window"
        )
    # and the window must be spent entirely on debt while any debt remains
    latest_round = max(r for r, _ in hist.values())
    debt = [n for n, p in zip(names, prios) if p < latest_round]
    fresh_in_window = [n for n in names[: min(50, len(debt))] if n not in debt]
    assert not fresh_in_window, (
        f"fresh-green queries occupy window slots while debt waits: {fresh_in_window}"
    )


def test_debt_priorities_match_known_history():
    """Regression pins against the frozen r1-r4 history: the five round-4
    red rows (HUGEINT oracle bug, fixed round 5) and rows-only semantics
    must rank exactly as the round-4 verdict prescribes. When round 5+
    files land, the *derived* ordering absorbs them with no edit here —
    these pins only assert how frozen rounds were parsed."""
    hist = q._correctness_history()
    r4_reds = {
        "scan_csv_roundtrip",
        "scan_json_roundtrip",
        "scan_partitioned_pruning",
        "docs_pack_sequences",
        "embedding_quantize_int8",
    }
    for name in r4_reds:
        rnd, green = hist[name]
        if rnd == 4:  # until a round-5+ row supersedes it
            assert not green, f"{name} r4 row should parse as red"
            assert q._grading_priority(name, hist) == -1
    # rows-only query that executed → green at its round, not red — but the
    # round-8 census promotion marks it semantics-changed, so until an r8+
    # row lands it must rank as ungraded (-1), then settle at its round
    rnd, green = hist["multimodal_frame_sample"]
    assert green, "rows-only executed row must count as green"
    expected = (
        -1 if rnd < q._SEMANTICS_CHANGED_IN["multimodal_frame_sample"] else rnd
    )
    assert q._grading_priority("multimodal_frame_sample", hist) == expected
    # a semantics change overrides a green history row until re-graded
    rnd, green = hist["stream_stateful_reassembly"]
    assert green
    if rnd < q._SEMANTICS_CHANGED_IN["stream_stateful_reassembly"]:
        assert q._grading_priority("stream_stateful_reassembly", hist) == -1
    # hash-green r4 row → priority 4 or later
    assert q._grading_priority("events_sessionize", hist) >= 4
    # unknown query → never graded → front of the queue
    assert q._grading_priority("__not_a_query__", hist) == -1
    # Empty history degrades safely: everything priority -1.
    assert q._grading_priority("scan_parquet", {}) == -1


def test_comparator_detects_each_failure_class(spark):
    """Meta-guard: a comparator bug that silently passes everything would
    green-light the whole local gate, so prove `compare` actually trips on
    each failure class — value drift, missing column, row-count drift,
    column-name drift — and stays silent on a true match."""
    from tests.oracle import compare, duckdb_con

    con = duckdb_con(SF)
    df = spark.createDataFrame([(1, 2), (3, 4)], "a long, b long")

    assert not compare(df, con, "SELECT 1 AS a, 2 AS b UNION ALL SELECT 3, 4")
    # value drift
    assert compare(df, con, "SELECT 1 AS a, 2 AS b UNION ALL SELECT 3, 5")
    # row-count drift
    assert compare(df, con, "SELECT 1 AS a, 2 AS b")
    # schema drift: missing column / renamed column
    assert compare(df, con, "SELECT 1 AS a UNION ALL SELECT 3")
    assert compare(df, con, "SELECT 1 AS a, 2 AS c UNION ALL SELECT 3, 4")
    # float vs int typing of the same value must not alias
    assert compare(df, con, "SELECT CAST(1 AS DOUBLE) AS a, 2 AS b UNION ALL SELECT 3, 4")
