"""Transfer-pipeline operators, batch form (SURVEY.md §7 M2) — the
reference's core semantics (chunk → validate → sequence-check → clamped
write → completion/expiry → reassembly) as declarative DataFrame plans.

Each query recomputes its fixture from ``documents``/``events`` with a SQL
twin (sources/fixtures.py), so the oracle checks derivation + operator
together.

Scale notes: every operator is keyed by ``transfer_id`` (high cardinality) —
group-by/window shuffles partition evenly; reassembly sorts only within one
transfer (array_sort over a per-group collect), never globally. For
multi-GB single transfers the documented scale path is bucketed chunk files
+ ordered merge at the sink (SURVEY.md §4.2) — not needed at fixture sizes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W, functions as F

from transf_spark.functions.exprs import basename, chunk_slices
from transf_spark.queries import register
from transf_spark.sources import fixtures
from transf_spark.sources.fixtures import CHUNKS_FAULTY_SQL, CHUNKS_SQL, HANDSHAKES_SQL


# --------------------------------------------------------------------------
# Binary scan + chunker (R1 + R2)
# --------------------------------------------------------------------------


# 64 KiB protocol chunk size — the ONE definition both the chunker and
# the census's framing checks read (a retune that edited only one of two
# copies would red the census for a non-regression; round-6 review).
CHUNK_SIZE_BYTES = 64 * 1024


def binary_chunk_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile source + 64 KiB chunker over real files — the reference's
    file-open/seek/sequential-read loop (`/root/reference/transf_client.cpp:102-133`)
    as one narrow map stage. Emits per-chunk sha256 instead of payloads so
    the result is manifest-sized."""
    sz = CHUNK_SIZE_BYTES
    bf = spark.read.format("binaryFile").load(f"{sf_dir}/*.parquet")
    slices = chunk_slices("content", sz)
    return (
        bf.select(basename("path").alias("file"), F.col("length").alias("filesize"),
                  F.explode(slices).alias("c"))
        .select(
            "file",
            "filesize",
            F.col("c.seq").alias("seq"),
            F.length("c.payload").alias("chunk_len"),
            F.sha2("c.payload", 256).alias("chunk_sha"),
        )
    )


# The testdata layout contract (TESTDATA.md): every sf directory holds
# exactly these ten tables as one parquet file each — the one exact count
# the census oracle can state without filesystem access.
N_FIXTURE_TABLES = 10


@register(
    "scan_binary_chunked",
    oracle=f"""
    SELECT CAST({N_FIXTURE_TABLES} AS BIGINT) AS n_files,
           TRUE AS chunk_streams_complete,
           TRUE AS bytes_conserved,
           TRUE AS chunk_lens_valid,
           TRUE AS shas_distinct_per_file
    """,
    category="scan/source",
    origin="R1,R2",
)
def scan_binary_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-chunk invariant census — the hash-checkable declared form of
    the chunker (the invariant-census device; DuckDB cannot read the raw
    files, but the chunk stream's CONTRACTS — the exact guarantees the
    reference's seek/read loop relies on — are statable):

    - coverage: all ``N_FIXTURE_TABLES`` fixture files chunk (the
      testdata layout contract — the one exact count available without
      filesystem access);
    - completeness: per file, seqs run 1..ceil(size/64KiB) (the protocol's
      1-based numbering, `transf.h` SEQ semantics) with no gap or
      duplicate (``chunk_streams_complete``);
    - byte conservation: per file, Σ chunk_len == filesize
      (``bytes_conserved``);
    - framing: every chunk is exactly 64 KiB except a smaller final one
      (``chunk_lens_valid``);
    - content sanity: per-chunk sha256 digests are distinct within a file
      (``shas_distinct_per_file`` — a chunker that re-reads the same
      offset twice collapses this).

    Per-chunk surface stays as :func:`binary_chunk_manifest` (used by the
    reassembly round-trip test). Plan: one narrow binaryFile map stage +
    one per-file aggregate + a 1-row reduction."""
    ch = binary_chunk_manifest(spark, sf_dir)
    sz = CHUNK_SIZE_BYTES
    per_file = ch.groupBy("file", "filesize").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.count_distinct("seq").alias("n_seqs"),
        F.min("seq").alias("min_seq"),
        F.max("seq").alias("max_seq"),
        F.sum("chunk_len").alias("sum_len"),
        F.sum((F.col("chunk_len") == sz).cast("long")).alias("n_full"),
        F.sum(
            ((F.col("chunk_len") > 0) & (F.col("chunk_len") < sz)).cast("long")
        ).alias("n_partial"),
        F.count_distinct("chunk_sha").alias("n_shas"),
    )
    expected_chunks = F.ceil(F.col("filesize") / F.lit(sz)).cast("long")
    flags = per_file.select(
        (
            (F.col("n_chunks") == expected_chunks)
            & (F.col("n_seqs") == F.col("n_chunks"))
            & (F.col("min_seq") == 1)
            & (F.col("max_seq") == F.col("n_chunks"))
        ).alias("complete"),
        (F.col("sum_len") == F.col("filesize")).alias("conserved"),
        (
            (F.col("n_partial") <= 1)
            & (F.col("n_full") + F.col("n_partial") == F.col("n_chunks"))
        ).alias("lens_valid"),
        (F.col("n_shas") == F.col("n_chunks")).alias("shas_ok"),
    )
    return flags.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.min(F.col("complete").cast("int")).alias("_c"),
        F.min(F.col("conserved").cast("int")).alias("_b"),
        F.min(F.col("lens_valid").cast("int")).alias("_l"),
        F.min(F.col("shas_ok").cast("int")).alias("_s"),
    ).select(
        "n_files",
        (F.col("_c") == 1).alias("chunk_streams_complete"),
        (F.col("_b") == 1).alias("bytes_conserved"),
        (F.col("_l") == 1).alias("chunk_lens_valid"),
        (F.col("_s") == 1).alias("shas_distinct_per_file"),
    )


# --------------------------------------------------------------------------
# Security filter (R6)
# --------------------------------------------------------------------------


def reject_ladder(filename: Column) -> tuple[Column, Column]:
    """The reference's filename reject ladder
    (`transf_server.cpp:164-168`) as ``(verdict, rejected)``:
    ``verdict`` names the first rung ``filename`` fails (empty → absolute →
    traversal) or is ``'accept'``; ``rejected`` is true when any rung
    fails. The one definition :func:`filter_path_security` and the
    stateful stream's batch cross-check share."""
    is_empty = F.length(filename) == 0
    is_abs = filename.startswith("/")
    is_trav = filename.contains("..")
    verdict = (
        F.when(is_empty, "reject_empty")
        .when(is_abs, "reject_absolute")
        .when(is_trav, "reject_traversal")
        .otherwise("accept")
    )
    return verdict, is_empty | is_abs | is_trav


@register(
    "filter_path_security",
    oracle=f"""
    SELECT transfer_id, filename,
           CASE WHEN length(filename) = 0 THEN 'reject_empty'
                WHEN substring(filename, 1, 1) = '/' THEN 'reject_absolute'
                WHEN position('..' IN filename) > 0 THEN 'reject_traversal'
                ELSE 'accept' END AS verdict,
           CASE WHEN length(filename) = 0 OR substring(filename, 1, 1) = '/'
                     OR position('..' IN filename) > 0
                THEN NULL ELSE string_split_regex(filename, '[/\\\\]')[-1] END AS fn_base
    FROM ({HANDSHAKES_SQL})
    """,
    category="filter",
    origin="R6",
)
def filter_path_security(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filename security ladder — exact reject order of the reference
    (`/root/reference/transf_server.cpp:164-168`): empty → absolute →
    traversal; accepted rows also get the extracted basename
    (`/root/reference/transf_client.cpp:27-33`). Reject rows are routed with
    a verdict tag instead of being dropped, mirroring the server's REJECT
    reply."""
    hs = fixtures.handshakes(spark, sf_dir)
    verdict, rejected = reject_ladder(F.col("filename"))
    return hs.select(
        "transfer_id",
        "filename",
        verdict.alias("verdict"),
        F.when(rejected, F.lit(None)).otherwise(basename("filename")).alias("fn_base"),
    )


# --------------------------------------------------------------------------
# Sequence ledger: running clamped write (R8) and gap detection (R7)
# --------------------------------------------------------------------------


@register(
    "window_running_sum_frame",
    oracle=f"""
    WITH c AS ({CHUNKS_SQL}), h AS ({HANDSHAKES_SQL})
    SELECT c.transfer_id, c.seq, c.payload_len,
           CAST(LEAST(h.filesize,
                SUM(c.payload_len) OVER (PARTITION BY c.transfer_id ORDER BY c.seq
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS BIGINT) AS written,
           CAST(LEAST(h.filesize,
                SUM(c.payload_len) OVER (PARTITION BY c.transfer_id ORDER BY c.seq
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
              - LEAST(h.filesize,
                COALESCE(SUM(c.payload_len) OVER (PARTITION BY c.transfer_id ORDER BY c.seq
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)) AS BIGINT) AS this_written
    FROM c JOIN h ON c.transfer_id = h.transfer_id
    """,
    category="window/frame",
    origin="R8,R26",
)
def window_running_sum_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The server's write ledger as a window frame: running ``written``
    clamped to the declared filesize, and the per-chunk clamped write
    (`/root/reference/transf_server.cpp:277-294`). Understated-filesize
    fixture rows exercise the clamp (this_written < payload_len on the final
    chunk)."""
    c = fixtures.chunks(spark, sf_dir)
    h = fixtures.handshakes(spark, sf_dir).select("transfer_id", "filesize")
    w = W.partitionBy("transfer_id").orderBy("seq").rowsBetween(W.unboundedPreceding, 0)
    w_prev = W.partitionBy("transfer_id").orderBy("seq").rowsBetween(W.unboundedPreceding, -1)
    joined = c.join(h, "transfer_id")
    run = F.least(F.col("filesize"), F.sum("payload_len").over(w))
    run_prev = F.least(F.col("filesize"), F.coalesce(F.sum("payload_len").over(w_prev), F.lit(0)))
    return joined.select(
        "transfer_id",
        "seq",
        "payload_len",
        run.cast("long").alias("written"),
        (run - run_prev).cast("long").alias("this_written"),
    )


@register(
    "window_lag_lead_gap",
    oracle=f"""
    WITH c AS ({CHUNKS_FAULTY_SQL}),
    seqs AS (
      SELECT transfer_id, seq,
             LAG(seq) OVER (PARTITION BY transfer_id ORDER BY seq) AS prev_seq
      FROM c
    )
    SELECT transfer_id, seq, prev_seq,
           CASE WHEN COALESCE(prev_seq, 0) = seq THEN 'duplicate'
                ELSE 'missing_before' END AS anomaly
    FROM seqs
    WHERE seq - COALESCE(prev_seq, 0) <> 1
    """,
    category="window/analytic",
    origin="R7",
)
def window_lag_lead_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stop-and-wait sequence verification as data-quality analytics
    (`/root/reference/transf_server.cpp:268-273`): lag() exposes duplicates
    (seq == prev) and holes (seq - prev > 1) injected by the faulty fixture."""
    c = fixtures.chunks_faulty(spark, sf_dir)
    w = W.partitionBy("transfer_id").orderBy("seq")
    seqs = c.select("transfer_id", "seq", F.lag("seq").over(w).alias("prev_seq"))
    return (
        seqs.filter(F.col("seq") - F.coalesce(F.col("prev_seq"), F.lit(0)) != 1)
        .select(
            "transfer_id",
            "seq",
            "prev_seq",
            F.when(F.coalesce(F.col("prev_seq"), F.lit(0)) == F.col("seq"), "duplicate")
            .otherwise("missing_before")
            .alias("anomaly"),
        )
    )


# --------------------------------------------------------------------------
# Reassembly (R8) and completion manifest (R9 + R12)
# --------------------------------------------------------------------------


@register(
    "reassembly_ordered_concat",
    oracle="""
    SELECT sha256(CAST(doc_id AS VARCHAR)) AS transfer_id,
           text AS doc_text,
           sha256(text) AS doc_sha
    FROM documents
    WHERE length(text) > 0
    """,
    # ^ mirrors the chunker's in-scope predicate (fixtures.chunks emits no
    # rows for empty/NULL text, so Spark reassembles nothing for such a
    # doc) — without it a regenerated fixture with one empty document
    # makes the oracle emit a (transfer_id, '', sha256('')) row Spark
    # never produces. length(NULL) is NULL → also filtered, both engines.
    category="aggregation",
    origin="R8",
)
def reassembly_ordered_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered reassembly: chunk → collect per transfer → sort by seq →
    concat. The oracle is the round-trip invariant itself — the reassembled
    text must equal ``documents.text`` byte-for-byte (the batch twin of the
    whole client/server exchange, SURVEY.md §7 M2).

    Sorting happens only *within* one transfer (array_sort over a per-group
    list) — no global sort; the shuffle is the group-by on transfer_id."""
    c = fixtures.chunks(spark, sf_dir)
    assembled = (
        c.groupBy("transfer_id")
        .agg(F.array_sort(F.collect_list(F.struct("seq", "payload"))).alias("parts"))
        .select(
            "transfer_id",
            F.array_join(F.expr("transform(parts, p -> p.payload)"), "").alias("doc_text"),
        )
    )
    return assembled.select(
        "transfer_id", "doc_text", F.sha2("doc_text", 256).alias("doc_sha")
    )


def accepted_progress(frame: DataFrame, is_chunk: str, filesize: str) -> tuple[DataFrame, str]:
    """The state machine's progress in closed form, as window columns over
    ``frame``. Rows where the SQL predicate ``is_chunk`` holds are TRANSFER
    chunks (``transfer_id``, ``seq``, ``payload_len``); every other row (a
    handshake, a manifest row) passes through and receives its transfer's
    values:

    1. duplicate-drop per (transfer, seq) (≈ stop-and-wait re-send
       rejection, `transf_server.cpp:268-273`);
    2. accepted prefix = kept chunks whose rank by seq equals seq (a later
       chunk after a hole is rejected, exactly like the seq verifier);
    3. ``written_raw`` = sum of accepted payloads, ``n_rejected`` = kept
       chunks past the first hole, ``has_chunks`` = the transfer has at
       least one chunk row.

    One shuffle, the caller's: ``frame`` must already be partitioned by
    ``transfer_id`` (``repartition("transfer_id")``). Every window here is
    keyed by ``transfer_id`` first, so Spark sorts within those partitions
    and adds no exchange of its own, and a caller unions its handshakes or
    manifest rows into the same partitioning instead of joining them back
    (:func:`completion_manifest` runs in 6 Spark jobs where an aggregate
    joined back to the handshakes ran 8).

    Returns the frame with those three columns added, and the SQL text of
    ``written``: ``written_raw`` clamped to ``[0, filesize]``, ``filesize``
    being a SQL expression over the returned frame
    (`transf_server.cpp:277-294`). The lower clamp matches the state
    machine, which clamps every chunk write to >= 0, so a degenerate
    negative filesize reports written = 0 on both sides. A transfer is
    done when it has chunks and ``written >= filesize``. The one definition
    :func:`completion_manifest` and the stateful stream's batch
    cross-check share."""
    chunk = f"coalesce({is_chunk}, false)"
    by_tid = "OVER (PARTITION BY transfer_id)"
    kept = frame.selectExpr(
        "*",
        f"{chunk} AS _chunk",
        f"{chunk} AND row_number() OVER "
        f"(PARTITION BY transfer_id, {chunk}, seq ORDER BY payload_len) = 1 AS _kept",
    )
    # rank among kept chunks: one kept row per seq, so the running count
    # up to and including this seq is its row_number among them
    ranked = kept.selectExpr(
        "*", "sum(CAST(_kept AS BIGINT)) OVER (PARTITION BY transfer_id ORDER BY seq) AS _rn"
    )
    progress = ranked.selectExpr(
        *frame.columns,
        "CAST(sum(CASE WHEN _kept AND _rn = seq THEN payload_len ELSE 0 END) "
        f"{by_tid} AS BIGINT) AS written_raw",
        f"count(CASE WHEN _kept AND _rn <> seq THEN 1 END) {by_tid} AS n_rejected",
        f"max(_chunk) {by_tid} AS has_chunks",
    )
    return progress, f"greatest(least({filesize}, written_raw), 0)"


@register(
    "completion_manifest",
    oracle=f"""
    WITH c AS ({CHUNKS_FAULTY_SQL}),
    h AS ({HANDSHAKES_SQL}),
    dedup AS (SELECT DISTINCT transfer_id, seq, payload_len FROM c),
    numbered AS (
      SELECT transfer_id, seq, payload_len,
             ROW_NUMBER() OVER (PARTITION BY transfer_id ORDER BY seq) AS rn
      FROM dedup
    ),
    acc AS (
      SELECT transfer_id,
             CAST(SUM(CASE WHEN rn = seq THEN payload_len ELSE 0 END) AS BIGINT) AS written_raw,
             CAST(SUM(CASE WHEN rn <> seq THEN 1 ELSE 0 END) AS BIGINT) AS n_rejected
      FROM numbered GROUP BY transfer_id
    )
    SELECT h.transfer_id, h.filesize,
           CAST(GREATEST(LEAST(h.filesize, a.written_raw), 0) AS BIGINT) AS written,
           a.n_rejected,
           CASE WHEN GREATEST(LEAST(h.filesize, a.written_raw), 0) >= h.filesize
                  THEN 'done'
                WHEN h.ts < (SELECT max(ts) - INTERVAL 7 DAY FROM events) THEN 'expired'
                ELSE 'pending' END AS status
    FROM acc a JOIN h ON a.transfer_id = h.transfer_id
    """,
    category="aggregation",
    origin="R9,R12",
)
def completion_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole server state machine, batch form:

    1. duplicate-drop → accepted prefix → clamped ``written``, the closed
       form of :func:`accepted_progress` over the faulty chunks and the
       handshakes, unioned and partitioned by ``transfer_id`` once; each
       handshake row of a transfer with chunks is one output row;
    2. status: done (`written >= filesize`, `transf_server.cpp:296-316`),
       else expired when the handshake is older than the GC horizon
       (`transf_server.cpp:78-131`), else pending.
    """
    c = fixtures.chunks_faulty(spark, sf_dir).select("transfer_id", "seq", "payload_len")
    h = fixtures.handshakes(spark, sf_dir).selectExpr("transfer_id", "filesize", "ts", "true AS _hs")
    events = fixtures.load_table(spark, sf_dir, "events")
    horizon = events.agg(
        (F.max("ts") - F.expr("INTERVAL 7 DAYS")).alias("horizon")
    )
    both = c.unionByName(h, allowMissingColumns=True).repartition("transfer_id")
    progress, written = accepted_progress(both, "_hs IS NULL", "filesize")
    return (
        progress.filter("_hs AND has_chunks")
        .crossJoin(F.broadcast(horizon))
        .selectExpr(
            "transfer_id",
            "filesize",
            f"CAST({written} AS BIGINT) AS written",
            "n_rejected",
            f"CASE WHEN {written} >= filesize THEN 'done' "
            "WHEN ts < horizon THEN 'expired' ELSE 'pending' END AS status",
        )
    )
