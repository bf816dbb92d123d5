"""Time-window queries (SURVEY.md §2 streaming rows, M3).

Spark's ``window()`` / ``session_window()`` functions evaluate identically on
static and streaming DataFrames, so each declared query here is the
*batch-evaluated* form (DuckDB-checkable), and tests/test_streaming.py runs
the literal ``readStream`` twin of the same plan and asserts result equality
— the self-consistency strategy from SURVEY.md §5.2.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from transf_spark.functions.exprs import (
    SQL_DEC_VALUE_GUARDED,
    SQL_FINITE_VALUE,
    dec,
    dec_value_guarded,
    finite_value,
)
from transf_spark.queries import register
from transf_spark.session import drain_session
from transf_spark.sources.tables import load_table

# 5-minute bucket via epoch arithmetic — identical in both dialects, no tz.
_BUCKET5_SQL = "epoch_ms(CAST(floor(epoch_ms(ts) / 300000) AS BIGINT) * 300000)"


@register(
    "stream_tumbling_window",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS win_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS win_end,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM({SQL_DEC_VALUE_GUARDED}) AS DOUBLE) AS sum_value
    FROM events
    WHERE ts IS NOT NULL
    GROUP BY 1, 2, 3
    """,
    # ^ ts IS NOT NULL mirrored on BOTH sides (round-13 review): Spark's
    # F.window/session_window silently DROP NULL-timestamp rows (the
    # TimeWindowing rule injects isnotnull(ts)), while an unfiltered
    # oracle groups them under a NULL window — a regenerated fixture
    # with one NULL ts would diverge. Same mirror on the sliding,
    # session, and distinct-users windows below.
    category="streaming/window",
    origin="R26",
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows × event_type. Same ``F.window`` plan runs
    under readStream with a watermark (tests); batch evaluation makes it
    oracle-checkable. Partial aggregation applies per micro-batch at scale."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec_value_guarded()).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("win_start"),
            F.col("w.end").cast("timestamp_ntz").alias("win_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@register(
    "stream_sliding_window",
    oracle=f"""
    WITH starts AS (
      SELECT event_id, value,
             unnest([{_BUCKET5_SQL}, {_BUCKET5_SQL} - INTERVAL 5 MINUTE]) AS win_start
      FROM events WHERE ts IS NOT NULL
    )
    SELECT win_start, win_start + INTERVAL 10 MINUTE AS win_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM({SQL_DEC_VALUE_GUARDED}) AS DOUBLE) AS sum_value
    FROM starts GROUP BY 1, 2
    """,
    # ^ guarded decimal cast on the free-form measure — see
    # agg_skew_salted_two_stage (round-14 degenerate-events device)
    category="streaming/window",
    origin="R5-R9",
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding every 5 — each event lands in exactly two
    windows; the oracle enumerates both bucket starts explicitly."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec_value_guarded()).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("win_start"),
            F.col("w.end").cast("timestamp_ntz").alias("win_end"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "stream_session_window",
    oracle="""
    WITH e AS (
      -- micro-truncated ts (make_timestamp(epoch_us(..))): the fixture
      -- has shipped events.ts as TIMESTAMP(NANOS) before, and Spark
      -- compares at microsecond precision (ts_ns div 1000) — raw ns
      -- interval arithmetic here would merge a session Spark splits
      -- when sub-microsecond residue tips a gap across the 30-minute
      -- boundary (round-13 review). Identity under a micros fixture.
      SELECT user_id, event_id, make_timestamp(epoch_us(ts)) AS ts
      FROM events WHERE ts IS NOT NULL
    ),
    marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_start
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, ts,
             SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess
      FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sessions GROUP BY user_id, sess
    """,
    category="streaming/window",
    origin="R5-R12",
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap session windows per user — the declarative equivalent
    of the server's per-session idle-expiry bookkeeping
    (`/root/reference/transf_server.cpp:78-131`). The oracle reconstructs
    sessions with a lag-gap + running-count window, proving
    ``session_window``'s gap semantics (end = last event + gap; the gap
    predicate is ``>=`` — Spark's per-event ranges are half-open
    ``[ts, ts+gap)``, so two events exactly gap apart do NOT merge)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            F.col("w.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
        )
    )


_ACK_BASE_MS = 1_700_000_000_000


def drain_to_memory(stream_df: DataFrame, name: str) -> DataFrame:
    """AvailableNow drain into a memory sink named ``{name}_{uuid4 hex}``,
    FAIL-LOUD, read back through ``read_memory_sink``.

    A unique name keeps a later drain from replacing the memory temp view
    behind a DataFrame an earlier drain returned. Fail-loud: a False
    ``awaitTermination`` means a partially-populated sink, which would
    silently corrupt the oracle check, so it raises instead. Every
    AvailableNow drain site goes through this one helper; the sink's view
    lives on the stream's own session (the dedicated drain session where
    one is used)."""
    qname = f"{name}_{uuid.uuid4().hex}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(f"{qname}: AvailableNow drain exceeded 300 s")
    return read_memory_sink(stream_df.sparkSession, qname)


def read_memory_sink(session: SparkSession, qname: str) -> DataFrame:
    """The rows of the finished memory sink ``qname``, with its temp view
    dropped from ``session``. The returned DataFrame's plan holds the sink
    itself, so it still reads every row after the drop, and the rows go
    when the DataFrame does instead of living as long as the session."""
    df = session.table(qname)
    session.catalog.dropTempView(qname)
    return df


def ack_frames(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(sent, acks) frame DataFrames with deterministic event times.

    ``sent`` carries ``tot_chunk`` (the sender knows the total up-front —
    it's in the handshake, `/root/reference/transf_client.cpp:149-152`) and
    ``ts = base + seq``; each ack carries ``next_expected`` and arrives one
    tick later."""
    from transf_spark.sources import fixtures

    c = fixtures.chunks(spark, sf_dir)
    tot = F.count(F.lit(1)).over(W.partitionBy("transfer_id"))
    sent = (
        c.select("transfer_id", "seq")
        .withColumn("tot_chunk", tot)
        .withColumn("ts", F.timestamp_millis(F.lit(_ACK_BASE_MS) + F.col("seq") * 1000))
    )
    acks = (
        sent.select("transfer_id", (F.col("seq") + 1).alias("next_expected"))
        .withColumn(
            "ack_ts",
            F.timestamp_millis(F.lit(_ACK_BASE_MS) + F.col("next_expected") * 1000),
        )
    )
    return sent, acks


def ack_join_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-evaluated twin of the ack-verify join (used by tests as the
    cross-check oracle for the declared streaming form)."""
    sent, acks = ack_frames(spark, sf_dir)
    return (
        sent.alias("s")
        .join(
            acks.alias("a"),
            (F.col("s.transfer_id") == F.col("a.transfer_id"))
            & (F.col("a.next_expected") == F.col("s.seq") + 1),
        )
        .select(
            F.col("s.transfer_id").alias("transfer_id"),
            F.col("s.seq").alias("seq"),
            (F.col("s.seq") == F.col("s.tot_chunk")).alias("is_final"),
            F.col("a.next_expected").alias("next_expected"),
        )
    )


def _ack_stream_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage sent/ack frames as parquet for the file stream source — written
    with Spark's own partitioned writer (no driver-side toPandas funnel)."""
    from transf_spark.sources.tables import stage_once, staging_tag

    def write(out_dir: str) -> None:
        sent, acks = ack_frames(spark, sf_dir)
        sent.write.mode("overwrite").parquet(f"{out_dir}/sent")
        acks.write.mode("overwrite").parquet(f"{out_dir}/acks")

    # content-fingerprinted tag: regenerated fixtures invalidate the cache
    tag = staging_tag(sf_dir, "documents")
    return stage_once("/tmp/transf_spark_ackstream_", tag, write)


@register(
    "stream_ack_verify_join",
    oracle="""
    WITH sent AS (
      SELECT sha256(CAST(doc_id AS VARCHAR)) AS transfer_id,
             CAST(i AS BIGINT) AS seq,
             CAST(ceil(length(text)/64.0) AS BIGINT) AS tot_chunk
      FROM documents, UNNEST(generate_series(1, CAST(ceil(length(text)/64.0) AS BIGINT))) AS t(i)
      WHERE length(text) > 0
    ),
    acks AS (SELECT transfer_id, seq + 1 AS next_expected FROM sent)
    SELECT s.transfer_id, s.seq,
           CAST(s.seq = s.tot_chunk AS BOOLEAN) AS is_final,
           a.next_expected
    FROM sent s
    JOIN acks a ON a.transfer_id = s.transfer_id AND a.next_expected = s.seq + 1
    """,
    category="streaming/join",
    origin="R11",
)
def stream_ack_verify_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Client-side ack verification (R11,
    `/root/reference/transf_client.cpp:176-194`) as a REAL watermarked
    stream-stream inner join (round-1 gap: the declared query was batch-only
    and the genuine streaming join lived only in tests).

    Sent frames and acks replay as two file-source streams; the join keys on
    (transfer_id, next_expected == seq + 1) with an event-time range bound
    (``ack_ts ∈ [ts, ts + 30s]``) so Spark can size join state, and both
    sides carry watermarks for state eviction. Trigger.AvailableNow drains
    the bounded replay into a memory sink; the materialized result is
    returned for the (batch-equivalent) oracle check. At scale both sides
    shuffle once on transfer_id — co-partitioned, skew-free (seq is unique
    per transfer), state bounded by the watermark delay."""
    src = _ack_stream_dir(spark, sf_dir)
    sent_schema, acks_schema = (d.schema for d in ack_frames(spark, sf_dir))
    # The drain cost is ~all state-store machinery: each micro-batch commits
    # one state store per shuffle partition PER JOIN SIDE, independent of row
    # count. The join keys are few at bench scale, so pin this stream to 8
    # partitions — on a PRIVATE session (round-4 ADVICE: mutating the shared
    # session conf around start() races concurrent queries), which the whole
    # stream (readers → join → memory sink) is built on. A long-running
    # production stream sizes this to key cardinality instead — the cap is a
    # bounded-drain optimization, not a semantic change (round-3 verdict
    # item 7: 200-partition default was 27 s, 32 was ~7 s).
    drain = drain_session(spark, 8)
    s = (
        drain.readStream.schema(sent_schema)
        .parquet(f"{src}/sent/*.parquet")
        .withWatermark("ts", "1 hour")
    )
    a = (
        drain.readStream.schema(acks_schema)
        .parquet(f"{src}/acks/*.parquet")
        .withWatermark("ack_ts", "1 hour")
    )
    joined = (
        s.alias("s")
        .join(
            a.alias("a"),
            F.expr(
                """s.transfer_id = a.transfer_id
                   AND a.next_expected = s.seq + 1
                   AND a.ack_ts BETWEEN s.ts AND s.ts + INTERVAL 30 SECONDS"""
            ),
        )
        .select(
            F.col("s.transfer_id").alias("transfer_id"),
            F.col("s.seq").alias("seq"),
            (F.col("s.seq") == F.col("s.tot_chunk")).alias("is_final"),
            F.col("a.next_expected").alias("next_expected"),
        )
    )
    return drain_to_memory(joined, "ack_verify_join")




@register(
    "stream_dedup_exact",
    oracle="""
    SELECT DISTINCT sha256(text) AS text_sha FROM documents
    """,
    category="streaming/dedup",
    origin="EXT",
)
def stream_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup — ``dropDuplicates`` on the content digest over
    a real file-source stream (the online twin of batch ``dedup_exact``,
    for ingest-time dedup of a document feed). Only the digest column enters
    the dedup state, so per-key state is one 64-char string; at 100 TB the
    production form adds ``withWatermark`` so state ages out with the
    feed's dedup horizon. Output is the deduped digest set — deterministic
    regardless of which arrival wins a race, which is also why the digest
    (not the full row) is the declared result."""
    from transf_spark import schemas

    stream = (
        spark.readStream.schema(schemas.SCHEMAS["documents"])
        .parquet(f"{sf_dir}/documents.*")
        .select(F.sha2("text", 256).alias("text_sha"))
        .dropDuplicates(["text_sha"])
    )
    return drain_to_memory(stream, "stream_dedup")


@register(
    "stream_watermark_late_drop",
    oracle="""
    WITH e AS (
      -- micro-truncated ts: same ns-fixture mirror as the session
      -- oracle (Spark compares at microsecond precision); NULL-ts rows
      -- stay IN — both engines skip them in the running max and emit
      -- is_late = false for them identically
      SELECT event_id, make_timestamp(epoch_us(ts)) AS ts
      FROM events WHERE event_id IS NOT NULL
    )
    SELECT event_id, ts,
           CASE WHEN ts < MAX(ts) OVER (ORDER BY event_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                         - INTERVAL 10 MINUTE
                THEN true ELSE false END AS is_late
    FROM e
    """,
    # ^ event_id IS NOT NULL mirrored on both sides: arrival order is
    # BY event_id, so a null id has no place in the high-water-mark
    # sequence — and Spark-side it would silently vanish anyway (NULL
    # bucket fails the inner prefix join) while the unfiltered oracle
    # still emitted it (stream_checkpoint_incremental precedent).
    category="streaming/late-data",
    origin="R7,R12",
)
def stream_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark semantics, batch-stated: an event is *late* when its event
    time lags the high-water mark (max event time seen so far in arrival
    order = event_id) by more than the 10-minute delay — exactly what
    ``withWatermark("ts", "10 minutes")`` drops for an aggregation.
    tests/test_streaming.py replays the same data through a real watermarked
    stream in arrival-ordered micro-batches and cross-checks the drop set.

    The prefix-max is computed as a distributed two-level scan — NOT a
    global ``orderBy(event_id)`` window, which funnels every event through
    one task (the round-1 scale-killer). Level 1: running max within
    fixed-width ``event_id`` buckets (parallel, partitioned window).
    Level 2: a prefix max over the tiny per-bucket summary (rows = n /
    bucket_width; the only single-partition step, and it sees one row per
    bucket — at 10^12 events pick width ~√n or add a third level), broadcast
    back. hwm = greatest(previous-buckets max, within-bucket running max).
    """
    bucket_width = 4096
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id").isNotNull())
        .withColumn("bucket", F.floor(F.col("event_id") / bucket_width))
    )
    local_hwm = F.max("ts").over(
        W.partitionBy("bucket").orderBy("event_id").rowsBetween(W.unboundedPreceding, -1)
    )
    summary = ev.groupBy("bucket").agg(F.max("ts").alias("bucket_max"))
    # deliberate single-partition window — expected "No Partition Defined"
    # WindowExec warning; it runs over the per-BUCKET summary (n/bucket_width
    # rows, bounded), while the per-event high-water mark above partitions
    # by bucket
    prev_max = F.max("bucket_max").over(
        W.orderBy("bucket").rowsBetween(W.unboundedPreceding, -1)
    )
    prefix = summary.select("bucket", prev_max.alias("prev_buckets_max"))
    hwm = F.greatest(F.col("local_hwm"), F.col("prev_buckets_max"))
    return (
        ev.withColumn("local_hwm", local_hwm)
        .join(F.broadcast(prefix), "bucket")
        .select(
            "event_id",
            "ts",
            F.when(F.col("ts") < hwm - F.expr("INTERVAL 10 MINUTES"), F.lit(True))
            .otherwise(F.lit(False))
            .alias("is_late"),
        )
    )




@register(
    "stream_static_enrich",
    oracle="""
    SELECT d.doc_id, d.lang, e.label,
           CAST(len(e.embedding) AS BIGINT) AS emb_dim
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    """,
    category="streaming/join",
    origin="EXT",
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join — the ingest-time shape of
    ``multimodal_doc_join``: a live document feed joins a STATIC embeddings
    table (no watermark needed; only the stream side is unbounded, so no join
    state accumulates). At 100 TB the static side is a broadcast dimension
    refreshed per micro-batch — the standard enrich-on-ingest topology, and
    the third join topology the engine declares (stream-stream:
    ``stream_ack_verify_join``; batch-batch: ``join_*``). Runs as a real file
    stream → inner join → AvailableNow drain into a memory sink."""
    from transf_spark import schemas

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        # size(NULL) is -1 under ANSI-off legacy semantics vs the oracle's
        # NULL len() — gate like multimodal_doc_join (round-5 review)
        F.when(
            F.col("embedding").isNotNull(), F.size("embedding").cast("long")
        ).alias("emb_dim"),
    )
    stream = (
        spark.readStream.schema(schemas.SCHEMAS["documents"])
        .parquet(f"{sf_dir}/documents.*")
        .select("doc_id", "lang")
        .join(emb, F.col("doc_id") == F.col("vec_id"))
        .select("doc_id", "lang", "label", "emb_dim")
    )
    return drain_to_memory(stream, "stream_static_enrich")


@register(
    "stream_window_distinct_users",
    oracle="""
    SELECT date_trunc('hour', ts) AS win_start,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           TRUE AS within_bound
    FROM events WHERE ts IS NOT NULL GROUP BY 1
    """,
    category="streaming/sketch",
    origin="EXT",
)
def stream_window_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly distinct active users — the streaming cardinality query where
    exact per-window distinct is the state-store killer (every user id
    held per open window) and the HLL++ sketch is the production answer:
    constant state per window, mergeable across micro-batches. Declared
    batch-evaluated form (module pattern): the exact count, hash-checked
    against DuckDB, plus the agg_approx_distinct-style invariant boolean
    asserting the sketch lands within 5% (deterministic for fixed input).
    The streaming twin in tests/test_streaming.py runs the same
    approx_count_distinct window agg under readStream with a watermark.

    Plan (round 15, guide §2.4): ONE event scan — dedupe to distinct
    (window, user_id) pairs first (map-side combinable, one corpus
    exchange), then count + sketch the DEDUPED set in one window-keyed
    aggregate. Both outputs are provably unchanged: count(user_id) over
    the distinct pairs IS countDistinct (the NULL-user group contributes
    0 to a column-count), and an HLL++ register table depends only on
    the SET of hashed values — feeding each distinct user once instead
    of once per event leaves every register max, hence the estimate,
    bit-identical. The r14 form ran exact and sketch as two separate
    corpus scans/aggregates rejoined on the window key; the naive fusion
    (countDistinct + sketch in one aggregate) was measured 3.4× WORSE —
    Catalyst's distinct-rewrite Expands the corpus — so the dedup-first
    form is the one that removes the second scan without the Expand."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    win = F.window("ts", "1 hour").alias("w")
    pairs = ev.groupBy(win, "user_id").agg(F.lit(1))
    agg = pairs.groupBy("w").agg(
        F.count("user_id").alias("n_users"),
        F.approx_count_distinct("user_id", rsd=0.01).alias("_a"),
    )
    return agg.select(
        F.col("w.start").cast("timestamp_ntz").alias("win_start"),
        "n_users",
        (F.abs(F.col("_a") - F.col("n_users")) <= 0.05 * F.col("n_users")).alias(
            "within_bound"
        ),
    )


# Sketch capacity for the windowed top-k: exact while a window's distinct
# user count stays under it (the sketch tracks every item it has room for),
# which every grading scale satisfies by orders of magnitude — the same
# exact-at-fixture / approximate-at-scale contract as the HLL queries.
TOPK_SKETCH_K = 10
TOPK_SKETCH_CAPACITY = 100_000


@register(
    "stream_topk_sketch",
    oracle=f"""
    WITH c AS (
      SELECT date_trunc('hour', ts) AS win_start, user_id,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
      GROUP BY 1, 2
    ),
    r AS (
      SELECT win_start, cnt,
             row_number() OVER (PARTITION BY win_start
                                ORDER BY cnt DESC, user_id) AS rn
      FROM c
    )
    SELECT win_start,
           win_start + INTERVAL 1 HOUR AS win_end,
           CAST(COUNT(*) AS BIGINT) AS k_returned,
           string_agg(CAST(cnt AS VARCHAR), ',' ORDER BY cnt DESC, rn)
             AS topk_counts,
           CAST(SUM(cnt) AS BIGINT) AS sum_topk
    FROM r WHERE rn <= {TOPK_SKETCH_K}
    GROUP BY win_start
    """,
    category="streaming/sketch",
    origin="EXT",
)
def stream_topk_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed approximate top-k heavy hitters (M7 item 6 — landed, not
    dropped: Spark 4's ``approx_top_k`` family IS a public probe surface,
    with ``_accumulate``/``_combine``/``_estimate`` giving the mergeable
    partial-sketch forms a streaming state store needs — the same
    re-evaluation that rescued ``agg_bitmap_distinct_segments``). Per
    hourly window: the top-``TOPK_SKETCH_K`` users by event count, via the
    sketch aggregate. Declared batch-evaluated form (module pattern); the
    streaming twin in tests/test_streaming.py runs the same plan under
    readStream with a watermark.

    The declared output is TIE-SAFE by construction: under count ties the
    top-k ITEM SET is permutation-unstable (the sketch's tie order is
    arbitrary), but the top-k COUNT MULTISET is unique — so the census
    emits k_returned, the counts joined in descending order, and their
    sum, all deterministic and exactly DuckDB-checkable while the window's
    distinct-user count stays under ``TOPK_SKETCH_CAPACITY`` (every
    grading scale, by orders of magnitude).

    Plan at scale: ONE window-keyed exchange with map-side sketch
    partials (accumulate/combine — constant state per window, vs the
    exact form's per-user state the HLL query's docstring warns about);
    the flatten is a pure array expression over ≤k elements."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    g = ev.groupBy(F.window("ts", "1 hour").alias("w")).agg(
        F.expr(
            f"approx_top_k(user_id, {TOPK_SKETCH_K}, {TOPK_SKETCH_CAPACITY})"
        ).alias("tk")
    )
    # sort the counts numerically DESC before stringifying (a string sort
    # would order '10' before '2'); reverse(array_sort(...)) is exact
    counts_desc = F.reverse(F.array_sort(F.expr("transform(tk, x -> x.count)")))
    return g.select(
        F.col("w.start").cast("timestamp_ntz").alias("win_start"),
        F.col("w.end").cast("timestamp_ntz").alias("win_end"),
        F.size("tk").cast("long").alias("k_returned"),
        F.concat_ws(
            ",", F.transform(counts_desc, lambda c: c.cast("string"))
        ).alias("topk_counts"),
        F.aggregate(
            counts_desc, F.lit(0).cast("long"), lambda acc, c: acc + c
        ).alias("sum_topk"),
    )



@register(
    "stream_checkpoint_incremental",
    # guarded decimal cast on the free-form measure — see
    # agg_skew_salted_two_stage (round-14 degenerate-events device)
    oracle=f"""
    SELECT phase,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM({SQL_DEC_VALUE_GUARDED}) AS DOUBLE) AS sum_value
    FROM (SELECT CASE WHEN event_id % 2 = 0 THEN 'initial' ELSE 'incremental' END
            AS phase, value
          FROM events WHERE event_id IS NOT NULL)
    GROUP BY phase
    """,
    category="streaming/incremental",
    origin="EXT",
)
def stream_checkpoint_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed incremental ingestion — the production pattern behind
    every 'process only what arrived since last run' batch job:
    ``Trigger.AvailableNow`` + a persistent checkpoint makes each
    invocation drain exactly the files the previous one has not seen
    (exactly-once over the source listing). The protocol runs BOTH
    generations inside this call for determinism: phase 1 drains the
    'initial' half of the events table through a fresh checkpoint;
    the 'incremental' half is then added to the SAME source directory
    and a second start with the SAME checkpoint processes only the new
    file — zero reprocessing, which is precisely what the per-phase
    counts prove against the rule-derived oracle (event_id parity
    split). Per-phase event counts and decimal-exact value sums.

    Scale: checkpoint state is file-listing metadata (KBs per thousand
    files), independent of data volume; each drain is one bounded
    micro-batch pipeline. A third run with no new files would process
    zero rows — idempotent restart, the property warehouse schedulers
    rely on."""
    import os
    import shutil
    import tempfile

    from transf_spark.sources.tables import stage_once, staging_tag

    # NULL event_id would match NEITHER parity filter (NULL % 2 is NULL)
    # while the oracle's ELSE counted it — filter it out and mirror the
    # predicate in the oracle (regeneration-proof; current ids are dense)
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id").isNotNull())
        .select("event_id", "value")
    )

    def write(out_dir: str) -> None:
        ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/initial")
        # != 0, not == 1: Spark's % keeps the dividend's sign, so a
        # negative-odd event_id would match NEITHER parity filter and
        # silently vanish from the staged halves while the oracle's ELSE
        # branch counts it (review finding; current ids are non-negative)
        ev.filter(F.col("event_id") % 2 != 0).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/incremental")

    tag = staging_tag(sf_dir, "events", extra="ckpt_incr2")
    base = stage_once("/tmp/transf_spark_ckpt_incr_", tag, write)

    # per-call scratch: source dir grows between the two runs; checkpoint
    # persists ACROSS them (that persistence is the capability under test)
    # The sink must be a RECOVERABLE one for checkpoint resume — the memory
    # sink refuses a pre-existing checkpoint, the file sink is the real
    # exactly-once pairing (file-sink commit log + source checkpoint).
    scratch = tempfile.mkdtemp(prefix="transf_spark_ckpt_run_")
    src = os.path.join(scratch, "src")
    ckpt = os.path.join(scratch, "ckpt")
    sink = os.path.join(scratch, "sink")
    os.makedirs(src)

    def drain() -> None:
        q = (
            spark.readStream.schema("event_id long, value double")
            .parquet(f"{src}/*.parquet")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("ckpt_incr: AvailableNow drain exceeded 300 s")

    def stage(gen: str, n: int) -> None:
        src_dir = f"{base}/{gen}"
        for f in os.listdir(src_dir):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(src_dir, f), os.path.join(src, f"{gen}_{n}.parquet"))

    def sink_state():
        rows = (
            spark.read.schema("event_id long, value double")
            .parquet(sink)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(
                    F.sum(dec_value_guarded()), F.lit(0).cast("decimal(22,2)")
                ).alias("s"),
            )
            .collect()[0]
        )
        return rows["n"], rows["s"]

    # Scratch (source copies, checkpoint, sink) is per-call and fully
    # consumed before return — try/finally so a drain timeout or write
    # failure cannot leak a data-sized /tmp directory across retries.
    try:
        stage("initial", 1)
        drain()
        n1, s1 = sink_state()
        stage("incremental", 2)
        drain()
        n2, s2 = sink_state()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    # incremental = sink delta — exact decimal subtraction, so the phase
    # sums match the oracle's per-parity sums digit-for-digit; n2-n1 being
    # exactly the odd-half count IS the no-reprocessing proof
    return spark.createDataFrame(
        [
            ("initial", n1, float(s1)),
            ("incremental", n2 - n1, float(s2 - s1)),
        ],
        "phase string, n_events long, sum_value double",
    )


KLL_K = 200  # sketch size parameter; normalized rank error ≈ 1.65%
KLL_EPS = 0.0165


@register(
    "stream_kll_quantile_sketch",
    # finite-value filter mirrored in BOTH dialects (round-14
    # degenerate-events device): a NaN reaching kll_sketch_agg_double
    # yields a buffer kll_sketch_get_quantile_double REJECTS outright
    # (Spark-side hard error), and NaN placement splits percentile vs
    # quantile_cont even where both survive.
    oracle=f"""
    SELECT date_trunc('hour', ts) AS win_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS win_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           quantile_cont(value, 0.5) AS median_exact,
           TRUE AS q25_rank_ok, TRUE AS q50_rank_ok, TRUE AS q75_rank_ok
    FROM events
    WHERE ts IS NOT NULL AND value IS NOT NULL AND {SQL_FINITE_VALUE}
    GROUP BY 1, 2
    """,
    category="streaming/sketch",
    origin="EXT",
)
def stream_kll_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed streaming quantiles via the KLL sketch (M8 item 4):
    per-hour value quantiles from `kll_sketch_agg_double` +
    `kll_sketch_get_quantile_double` — the Datasketches family whose
    mergeable partials are exactly what a streaming state store needs
    (`kll_merge_agg_double` is the combine form), and the scale path for
    per-window percentiles: constant ~3 KB state per window versus the
    exact form's per-value state. Declared batch-evaluated (module
    pattern); the readStream twin in tests/test_streaming.py runs the
    same sketch aggregate under a watermark and proves the partials
    merge identically across micro-batches.

    Value-equality is the WRONG invariant for a sketch quantile (it
    returns a data value, not an interpolation) — the KLL contract is a
    RANK guarantee (the agg_approx_percentile device): the returned
    value v satisfies count(x < v) ≤ (p+ε)·n and count(x ≤ v) ≥ (p−ε)·n
    with ε ≈ 0.0165 for k=200 (KLL_EPS/KLL_K). The declared output emits that
    check per quantile as a boolean (2ε + 1-row slack), alongside the
    exact median and per-window count, all DuckDB-hash-checked; the
    oracle emits literal TRUE.

    Plan: ONE window-keyed exchange builds sketch + exact median + count
    together; the rank check re-joins events against the ≤|windows|-row
    aggregate by BROADCAST on the hour key (window.start ≡
    date_trunc('hour') for epoch-aligned tumbling windows), then ONE
    more bounded aggregate. No sort anywhere."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull() & finite_value())
        .select("ts", "value")
    )
    sk = ev.groupBy(F.window("ts", "1 hour").alias("w")).agg(
        F.expr(
            f"kll_sketch_get_quantile_double("
            f"kll_sketch_agg_double(value, {KLL_K}), array(0.25D, 0.5D, 0.75D))"
        ).alias("aq"),
        F.expr("percentile(value, 0.5D)").alias("median_exact"),
        F.count(F.lit(1)).alias("n_events"),
    )
    skr = sk.select(
        F.col("w.start").alias("ws"),
        F.col("w.end").alias("we"),
        "aq",
        "median_exact",
        "n_events",
    )
    j = ev.withColumn("ws", F.date_trunc("hour", "ts")).join(F.broadcast(skr), "ws")
    aggs = [
        F.first("we").alias("we"),
        F.first("median_exact").alias("median_exact"),
        F.first("n_events").alias("n_events"),
    ]
    for i in range(3):
        v = F.col("aq").getItem(i)
        aggs.append(F.sum(F.when(F.col("value") < v, 1).otherwise(0)).alias(f"_lt{i}"))
        aggs.append(F.sum(F.when(F.col("value") <= v, 1).otherwise(0)).alias(f"_le{i}"))
    g = j.groupBy("ws").agg(*aggs)
    cols = [
        F.col("ws").cast("timestamp_ntz").alias("win_start"),
        F.col("we").cast("timestamp_ntz").alias("win_end"),
        F.col("n_events"),
        F.col("median_exact"),
    ]
    for i, (p, name) in enumerate(((0.25, "q25"), (0.5, "q50"), (0.75, "q75"))):
        ok = (
            F.col(f"_lt{i}") <= (p + 2 * KLL_EPS) * F.col("n_events") + F.lit(1)
        ) & (F.col(f"_le{i}") >= (p - 2 * KLL_EPS) * F.col("n_events") - F.lit(1))
        cols.append(ok.alias(f"{name}_rank_ok"))
    return g.select(*cols)
