"""The benchmark's workloads: fixed lists of declared queries.

Every query runs through ``__spark_entry__.queries()[name](spark, sf_dir)``
on the workload's fixture. Every run starts a fresh JVM, so a run pays JVM
start, JIT warm-up and staging before its first timed pass; the lists are
sized so that two workloads' runs fit the benchmark's time budget on a
4-core host.

- ``warm_passes``: untimed passes before the timed ones, counted in
  ``setup_s``. On that host the first ``tpch_batch`` pass took 13-15 s, the
  second 5-6 s, and the timed ones then held at 4.5-5.5 s. The stream
  passes fell 8.7 -> 7.4 -> 6.2 s and then held, so the first of the three
  timed passes still runs warm and their median leaves it out.
- ``pass_s_nominal``: a timed pass's wall time on that host (median of ten
  runs). It turns ``--seconds`` into a pass count that does not change with
  the host's speed of the day.

``corpus_pipeline`` is defined and traceable by hand but not listed in
``BENCHMARK.json``: its first pass alone took 36-42 s at sf0.01 on that
host, and its warm passes were still falling after four (10.0 -> 7.7 ->
6.0 s), so a run with settled timed passes does not fit the budget beside
the other two.
"""

from __future__ import annotations

WORKLOADS: dict[str, dict] = {
    "tpch_batch": {
        "why": "sf0.1 scans, joins, aggregates and a window over single-row-group "
        "lineitem/orders; execution-bound, no Python workers or streams",
        "queries": [
            "agg_hash_groupby",
            "agg_stats_suite",
            "join_multiway_star",
            "window_rank_topk_per_group",
            "sql_nation_revenue",
        ],
        "fixture": "sf0.1",
        "warm_passes": 2,
        "pass_s_nominal": 4.9,
    },
    "transfer_stream": {
        "why": "the reference's chunked transfer -> stateful reassembly -> "
        "manifest at sf0.01; micro-batch lifecycle, state commits, file-sink writes",
        "queries": [
            "stream_stateful_reassembly",
            "stream_checkpoint_incremental",
            "reassembly_ordered_concat",
            "completion_manifest",
            "hash_integrity_suite",
        ],
        "fixture": "sf0.01",
        "warm_passes": 1,
        "pass_s_nominal": 7.4,
    },
    "corpus_pipeline": {
        "why": "small corpus files; py4j plan build, session memos and "
        "Python workers, where scan parallelism cannot help",
        "queries": [
            "dedup_simhash",
            "dedup_ngram_jaccard",
            "similarity_topk_cosine",
            "similarity_ann_lsh",
            "text_tfidf_topk",
            "pandas_grouped_rank_normalize",
            "multimodal_image_decode",
            "docs_pack_sequences",
            "scan_avro_roundtrip",
        ],
        "fixture": "sf0.01",
        "warm_passes": 3,
        "pass_s_nominal": 6.0,
    },
}
