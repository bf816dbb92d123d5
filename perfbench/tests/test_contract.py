"""The metric names and units the benchmark prints match BENCHMARK.json."""

import json
import os

from perfbench import layers, run

with open(os.path.join(run.ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
    SPEC = json.load(f)


def test_per_layer_metrics_are_layer_metrics_with_their_units():
    for m in SPEC["per_layer"]:
        assert layers.METRICS[m["name"]][0] == m["unit"]


def test_end_to_end_metrics_are_the_ones_computed():
    record = {
        "executions": [{"q": q, "pass": p, "s": s}
                       for p in (0, 1) for q, s in (("a", 1.0), ("b", 4.0))],
        "passes": [5.0, 5.2],
        "first_timed_epoch": 30.0,
        "heap_live_mb": 150.0,
    }
    e2e = run.end_to_end(record, t0=10.0, rss_peak=2560 * layers.MB, heap_mb=2048)
    assert {k: u for k, (_, u) in e2e.items()} == {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert e2e["setup_s"][0] == 20.0
    assert e2e["query_geomean_s"][0] == 2.0
    assert e2e["driver_rss_peak_mb"][0] == 512.0
