#!/usr/bin/env python3
"""Put the traced runs' layer tables side by side and check the predicted
layer -> workload mapping against them.

    python3 perfbench/run.py --workload <w> --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload <w> --seed 1 --seconds 15 --trace 1
    python3 perfbench/report.py --out perfbench/results/LAYERS.md

It reads the ``layers-<workload>.json`` files the traced runs leave in
``perfbench/_work``. Exits 1 when a prediction does not hold.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import layers  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

# Which end-to-end metric each layer should move, and on which workload.
MOVES = [
    ("session.start_s", "setup_s", "all"),
    ("build.cold_s", "setup_s", "all"),
    ("build.s, build.py4j_calls", "query_geomean_s", "corpus_pipeline (flat on tpch_batch)"),
    ("catalyst.*", "query_geomean_s", "tpch_batch"),
    ("exec.*", "pass_s", "tpch_batch"),
    ("scan.*", "pass_s", "tpch_batch (flat on corpus_pipeline)"),
    ("shuffle.*", "pass_s", "tpch_batch"),
    ("python.*", "pass_s", "corpus_pipeline, transfer_stream"),
    ("stream.*", "pass_s", "transfer_stream only"),
    ("write.*", "pass_s", "transfer_stream"),
    # the benchmark pre-touches a fixed heap, so heap demand shows in
    # heap_live_mb and, near the heap cap, in GC time (pass_s)
    ("jvm.heap_peak_mb", "heap_live_mb; pass_s near the heap cap", "all"),
]


def share(v: dict, key: str) -> float:
    return v[key] / v["trace.pass_s"]


def predictions(t: dict[str, dict]) -> list[tuple[str, bool | None]]:
    """Each prediction, with its numbers, and True/False, or None when a
    workload it needs has no traced run."""
    out = []
    v = {w: t[w]["values"] for w in t}
    if "tpch_batch" in t and "corpus_pipeline" in t:
        tp, co = v["tpch_batch"], v["corpus_pipeline"]
        b_co, b_tp = share(co, "build.s"), share(tp, "build.s")
        out.append((f"build.s share of pass higher on corpus_pipeline ({b_co:.2f}) "
                     f"than on tpch_batch ({b_tp:.2f})", b_co > b_tp))
        e_tp, e_co = share(tp, "exec.s"), share(co, "exec.s")
        out.append((f"exec.s share of pass higher on tpch_batch ({e_tp:.2f}) "
                     f"than on corpus_pipeline ({e_co:.2f})", e_tp > e_co))
        out.append((f"scan.input_rows per pass higher on tpch_batch ({tp['scan.input_rows']:.3g}) "
                    f"than on corpus_pipeline ({co['scan.input_rows']:.3g})",
                    tp["scan.input_rows"] > co["scan.input_rows"]))
    else:
        out.append(("build.s / exec.s shares and scan rows, tpch_batch vs corpus_pipeline", None))
    batches = {w: v[w]["stream.batches"] for w in t}
    out.append((f"stream.* non-zero only on transfer_stream (stream.batches {batches})",
                all((n > 0) == (w == "transfer_stream") for w, n in batches.items())
                if "transfer_stream" in t else None))
    used = {w: t[w]["used"]["python"] for w in t}
    out.append((f"python.* unused on tpch_batch, used elsewhere ({used})",
                all(u == (w != "tpch_batch") for w, u in used.items())))
    if "transfer_stream" in t:
        mb = v["transfer_stream"]["write.output_mb"]
        out.append((f"write.output_mb non-zero on transfer_stream ({mb:.3g} MB)", mb > 0))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    work = os.path.join(HERE, "_work")
    traced = {}
    for w in WORKLOADS:
        path = os.path.join(work, f"layers-{w}.json")
        if os.path.exists(path):
            with open(path, encoding="utf-8") as f:
                traced[w] = json.load(f)
    if not traced:
        print("report: no traced run found; run run.py with --trace 1 first", file=sys.stderr)
        return 2
    lines = ["# Per-layer table (traced runs)", "",
             "Written by `perfbench/report.py` from one traced run per workload, each",
             "after an untraced run of the same seed (for the overhead row), on a",
             "4-core VM at `local[4]`. Values are medians over the timed passes of",
             "per-pass sums; `*_peak*` rows are maxima within a pass. Task-level",
             "times (`exec.task_s`, `python.run_s`) are summed over tasks, so they",
             "can exceed wall time. `n/a`: the workload does not use the layer.",
             "`trace.overhead` compares one traced run with one untraced run. The",
             "host drifts 10-20% between minutes, so one pair cannot resolve the",
             "tracing cost, and the ratio can read below 1.",
             "The benchmark's `--trace 1` result carries only the metrics of layers",
             "every workload in `BENCHMARK.json` uses; the rest are only here.", "",
             "What some rows count (checked on a recorded log in",
             "`perfbench/tests/test_eventlog.py`):", "",
             "- `scan.input_mb`: size of the files the file scans selected (Spark's",
             "  \"size of files read\"), whole files rather than projected columns.",
             "- `python.run_s`: from each task's Python runner start to the worker's",
             "  last output; within the task's run time.",
             "- Left out: Python worker start time (0 with a warm worker pool),",
             "  Python worker init time (counts a pooled worker's idle time between",
             "  tasks) and task commit time (whole ms, 0 on local disk).",
             "- Zeros: `python.sent_mb` on transfer_stream (the",
             "  `applyInPandasWithState` runner does not report it);",
             "  `shuffle.spill_mb` (nothing spills at this heap; kept because spill",
             "  is the first sign of memory pressure); `exec.gc_s` where no",
             "  collection ran inside a query.", ""]
    lines += layers.table(traced)
    lines += ["", "## Layer -> end-to-end metric", "",
              "| layer metrics | moves | on |", "|---|---|---|"]
    lines += [f"| {a} | {b} | {c} |" for a, b, c in MOVES]
    lines += ["", "## Predictions checked against this table", ""]
    failed = False
    for text, ok in predictions(traced):
        mark = "n/a (workload not traced)" if ok is None else ("holds" if ok else "FAILS")
        failed |= ok is False
        lines.append(f"- {text}: **{mark}**")
    with open(args.out, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
