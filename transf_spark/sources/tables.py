"""Schema-pinned parquet loaders (SURVEY.md §2 R1 — file scan source).

Reference behavior being reproduced: the client opens a file in binary mode
and learns its size before streaming it (`/root/reference/transf_client.cpp:102,109-110`).
The Spark-native equivalent of "open + size + sequential read" is a parquet
scan with an explicit schema — size/metadata come from the footer, reads are
columnar and pushed-down.

Scale notes (100 TB): loaders never infer, and return plain scans so Catalyst
can prune columns/partitions per query. Nothing here forces materialization.
Loads are memoized per session as PLAN objects (``transf_spark.memo``) —
the memo holds the lazy scan (file listing + footer schema resolution), never
rows; every action still reads the parquet bytes. This is the same metadata
reuse a catalog table provides, fingerprinted on (mtime_ns, size) so a
regenerated fixture re-resolves.

Scan re-layout. Spark splits a parquet file into byte ranges, but a row
group is never split: each row group is read by the split holding its
midpoint. Every fixture table is ONE row group, so sf0.1 ``lineitem``
(10.8 MB, 600k rows) was read by one task on any number of cores — the
traced tpch_batch pass used 0.975 cores, with the critical path at 98% of
summed task time. ``load_table`` therefore scans a staged copy of a source
file when both hold:

- the file has fewer than K row groups, K = ``RG_PER_CORE`` times the
  session's ``sparkContext.defaultParallelism``;
- the file is larger than the session's
  ``spark.sql.files.openCostInBytes`` (default 4 MB). Spark packs a file
  below that size into one split anyway, so a re-layout cannot help it.

The copy (``_relayout``) is a pyarrow read and write of the same Arrow
schema, row order and compression, with row groups of ``ceil(rows / K)``
rows and the source's dictionary encoding minus its high-cardinality
columns, staged once under ``/tmp/transf_spark_rg_<table>_`` by
``stage_once`` keyed on ``staging_tag(..., extra=K)``. It gives the file's
splits whole row groups to read in parallel. The memo fingerprint stays
the SOURCE file's (mtime_ns, size), and everything outside Spark's scans
(the DuckDB oracle, bench.py's calibration probe, the footer reads here)
reads the original file. At sf0.01 and below no table passes the 4 MB
floor, so the mechanism does not fire there.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from transf_spark import schemas
from transf_spark.memo import memo
from transf_spark.session import ensure_conf

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def staging_tag(sf_dir: str, *tables: str, extra: str = "") -> str:
    """Cache tag for /tmp staging dirs derived from fixture tables.

    Includes each source parquet's (mtime_ns, size) so regenerating fixtures
    in place invalidates the staged copy instead of silently replaying stale
    data against a fresh oracle (round-2 ADVICE). The tag is content-derived,
    so distinct fixtures can't collide on a predictable path either.
    """
    import hashlib

    parts = [sf_dir, extra]
    for name in tables:
        p = table_path(sf_dir, name)
        st = os.stat(p)
        parts.append(f"{name}:{st.st_mtime_ns}:{st.st_size}")
    return hashlib.sha256("|".join(parts).encode()).hexdigest()[:16]


# How long an untouched completed stage survives a sibling's tag-miss
# eviction. Every stage_once() on a dir re-touches its marker, so only a
# stage no process has asked for in this window is collectable.
_EVICT_AGE_SEC = 3600.0


def stage_once(prefix: str, tag: str, write_fn) -> str:
    """Shared stage-once contract for every /tmp staging site (formats,
    bucketed tables, partitioned docs, stream sources): the target dir is
    ``prefix + tag``; a present ``_READY`` marker means a completed stage
    to reuse, otherwise evict stale siblings under ``prefix``, run
    ``write_fn(out_dir)``, and touch the marker.

    The whole check-evict-write-mark sequence holds an exclusive flock on
    ``prefix + '.lock'`` — without it, a second process entering the same
    site mid-write could rmtree the first one's markerless in-progress
    directory or read a half-written stage (the TOCTOU the round-5 review
    flagged, previously hand-copied with no lock at five formats.py sites
    plus the streaming sources). Same-host serialization is sufficient:
    driver, pytest and bench all stage on this machine's /tmp.

    Eviction is AGE-GATED (round 15): evicting every sibling on a tag miss
    deleted a dir a CONCURRENT process (different fixture ⇒ different tag)
    was actively streaming from — observed live as FAILED_READ_FILE when an
    sf0.01 oracle sweep staged while pytest's degenerate-fixture ack stream
    was mid-query on its own tag. Each reuse touches the ``_READY`` marker,
    and only siblings whose marker is older than ``_EVICT_AGE_SEC`` (or
    markerless leftovers of a crashed stage) are evicted — an active dir is
    re-touched every stage_once call, so it can't age out mid-use, while
    genuinely stale fixture generations still get collected.
    """
    import fcntl
    import glob
    import shutil
    import time

    out = prefix + tag
    marker = os.path.join(out, "_READY")
    if os.path.exists(marker):  # fast path, no lock: marker dirs are final
        try:
            os.utime(marker)  # keep-alive against sibling eviction
        except OSError:
            pass
        return out
    with open(prefix + ".lock", "w") as lk:
        fcntl.flock(lk, fcntl.LOCK_EX)
        if not os.path.exists(marker):  # re-check under the lock
            now = time.time()
            for d in glob.glob(prefix + "*"):
                if d == out or d == prefix + ".lock":
                    continue
                m = os.path.join(d, "_READY")
                try:
                    fresh = now - os.stat(m).st_mtime < _EVICT_AGE_SEC
                except OSError:
                    fresh = False  # markerless: crashed half-stage, evict
                if not fresh:
                    shutil.rmtree(d, ignore_errors=True)
            write_fn(out)
            open(marker, "w").close()
    return out


def events_ts_unit(sf_dir: str) -> str:
    """'ns' or 'us' — the physical unit of events.ts in this fixture.

    The fixture generator has shipped this column as both TIMESTAMP(NANOS)
    and TIMESTAMP(MICROS); assuming one of them silently shifts every
    timestamp by 1000x, so the unit is read from the parquet footer."""
    import pyarrow.parquet as pq

    path = table_path(sf_dir, "events")
    unit = getattr(pq.read_schema(path).field("ts").type, "unit", "ns")
    if unit not in ("ns", "us"):
        raise ValueError(f"unsupported events.ts unit {unit!r} in {path}")
    return unit


def ts_micros_col(sf_dir: str, col: str = "ts") -> F.Column:
    """Raw int64 ``ts`` (read under ``nanosAsLong``) → TIMESTAMP at
    microsecond precision, whatever unit the parquet stores.

    Integer div truncation toward -inf matches DuckDB's ns→us cast for
    post-epoch data (all fixture timestamps are 2024+)."""
    raw = F.expr(f"{col} div 1000") if events_ts_unit(sf_dir) == "ns" else F.col(col)
    return F.timestamp_micros(raw)


# Row groups per core in a re-layout. Splits take row groups by midpoint,
# so one group per core leaves uneven splits (sf0.1 lineitem on 4 cores:
# 1-2-1 groups over three ranges). Measured on a 4-core host, sum of the five
# tpch_batch queries' min-of-5, four runs each: 1x 3.01-3.07 s, 2x
# 2.60-2.95 s, 4x 2.62-2.84 s, 8x 2.80-3.07 s, none 3.52-3.93 s. Every
# row group carries its own dictionaries, so the staged lineitem grows
# with K: 10.8 MB source, 11.4 MB at 2x, 12.1 MB at 4x. 2x ties 4x on
# time with fewer bytes.
RG_PER_CORE = 2


def _relayout(spark: SparkSession, sf_dir: str, name: str, path: str, size: int):
    """``(scan_path, keep_alive)`` for Spark's scan of ``path``: the path of
    a staged re-layout and a callable that re-touches its stage, or
    ``(path, None)`` when the file does not qualify (module docstring).

    The size test comes first, so a table under the floor never has its
    footer opened."""
    if size <= spark._jsparkSession.sessionState().conf().filesOpenCostInBytes():
        return path, None
    import pyarrow.parquet as pq

    k = RG_PER_CORE * spark.sparkContext.defaultParallelism
    md = pq.read_metadata(path)
    if md.num_row_groups >= k:
        return path, None

    def write(out: str) -> None:
        os.makedirs(out, exist_ok=True)
        src = pq.ParquetFile(path)
        rows = -(-md.num_rows // k)
        cols = [md.row_group(0).column(i) for i in range(md.num_columns)]
        codec = {
            c.path_in_schema: c.compression.replace("UNCOMPRESSED", "NONE")
            for c in cols
        }
        # A dictionary page that is a large share of its chunk marks a
        # high-cardinality column, whose dictionary each of the K row
        # groups would repeat: plain-encode those (sf0.1 lineitem at K = 8:
        # l_orderkey 3.40 -> 2.77 MB, l_extendedprice 4.75 -> 3.48 MB).
        dictionary = [
            c.path_in_schema
            for c in cols
            if c.has_dictionary_page
            and (c.data_page_offset - c.dictionary_page_offset) * 10
            < c.total_compressed_size
        ]
        # batch by batch: the driver never holds the decoded table
        with pq.ParquetWriter(
            os.path.join(out, f"{name}.parquet"),
            src.schema_arrow,
            compression=codec,
            use_dictionary=dictionary,
            version=md.format_version,
        ) as w:
            for batch in src.iter_batches(batch_size=rows):
                w.write_batch(batch, row_group_size=rows)

    prefix = f"/tmp/transf_spark_rg_{name}_"
    tag = staging_tag(sf_dir, name, extra=str(k))

    def stage() -> str:
        return stage_once(prefix, tag, write)

    return os.path.join(stage(), f"{name}.parquet"), stage


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table with its pinned schema.

    ``events`` is normalized: parquet TIMESTAMP(NANOS or MICROS) → int64 (via
    ``spark.sql.legacy.parquet.nanosAsLong``; a micros column under a pinned
    LongType field likewise surfaces as the raw count) → microsecond
    TIMESTAMP_NTZ, bit-identical to DuckDB's read of the same file.  The
    nano-precision count is kept as ``ts_ns`` for ordering fidelity.

    A large single-row-group source is scanned through its staged
    re-layout (``_relayout``).

    The lazy plan is memoized per session on the file's (mtime_ns, size):
    a cold call costs 15 ms (schema-pinned resolve + file listing) to 86 ms
    (events' normalization select), and one bench build pass makes 331
    calls for 10 distinct tables. The memo holds the plan, never rows —
    every action re-scans the parquet. A hit on a re-laid table re-touches
    its stage through ``stage_once``'s lock-free fast path, so a session
    that outlives ``_EVICT_AGE_SEC`` keeps its staged file alive against
    another fixture's stage.
    """
    ensure_conf(spark)
    if name not in schemas.SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {schemas.TABLE_NAMES}")
    path = os.path.abspath(table_path(sf_dir, name))
    st = os.stat(path)

    def build() -> tuple:
        scan_path, keep_alive = _relayout(spark, sf_dir, name, path, st.st_size)
        df = spark.read.schema(schemas.SCHEMAS[name]).parquet(scan_path)
        if name != "events":
            return df, keep_alive
        ns = F.col("ts") if events_ts_unit(sf_dir) == "ns" else F.col("ts") * 1000
        # one select, not withColumn chains — each withColumn re-analyzes
        # the growing plan eagerly (measured 86 ms/call vs 15 for a plain
        # schema-pinned scan)
        return df.select(
            "event_id",
            ts_micros_col(sf_dir).cast("timestamp_ntz").alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
            ns.alias("ts_ns"),
        ), keep_alive

    df, keep_alive = memo(spark, path, (st.st_mtime_ns, st.st_size), build)
    if keep_alive is not None:
        keep_alive()
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table PRESENT in ``sf_dir`` as a temp view (for the
    SQL-facing API). Partial fixtures are legitimate — the degenerate parity
    sweeps stage single-family dirs (TPC-H-only, documents-only), and a
    TPC-H query must not fail because events.parquet is absent. A table
    ABSENT from ``sf_dir`` has its view DROPPED, never left behind: a
    shared session (pytest, REPL, bench) that previously registered a full
    fixture would otherwise silently serve the PREVIOUS fixture's data to
    a query referencing the missing table — the drop makes such a query
    fail loudly at resolution instead.

    Memoized per session on the present/absent snapshot: re-registering
    costs ~58 ms of py4j round trips, and 24 sql_* queries call this per
    bench pass with the snapshot unchanged."""
    snapshot: dict[str, tuple | None] = {}
    for name in schemas.TABLE_NAMES:
        p = table_path(sf_dir, name)
        try:
            st = os.stat(p)
            snapshot[name] = (os.path.abspath(p), st.st_mtime_ns, st.st_size)
        except OSError:
            snapshot[name] = None

    def register() -> dict:
        for name, key in snapshot.items():
            if key is not None:
                load_table(spark, sf_dir, name).createOrReplaceTempView(name)
            else:
                spark.catalog.dropTempView(name)
        return snapshot

    if memo(spark, ("views",), snapshot, register) is not snapshot and not all(
        spark.catalog.tableExists(name)
        for name, key in snapshot.items()
        if key is not None
    ):
        # A hit whose views were DROPPED on this session behind the memo's
        # back (user code on the SQL-facing API): re-register. tableExists
        # is ~0.5 ms a name. A view REPLACED under the same name still
        # resolves, so a replacement is not healed.
        register()
