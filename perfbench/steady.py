#!/usr/bin/env python3
"""Run the benchmark on one workload with several seeds, one run after
another, and report each end-to-end metric's median and spread (distance
between the quartiles as a share of the median) beside every raw value.

    python3 perfbench/steady.py --workload tpch_batch --seeds 1-10 --out perfbench/results/steady-tpch_batch.json

Each run measures ``run_seconds`` of ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402


def seed_list(spec: str) -> list[int]:
    a, b = spec.split("-")
    return list(range(int(a), int(b) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="a range, e.g. 1-10")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]

    runs = []
    for seed in seed_list(args.seeds):
        t0 = time.time()
        res = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, check=False,
        )
        lines = res.stdout.strip().splitlines()
        if res.returncode != 0 or not lines:
            print(res.stderr[-2000:], file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        diag = json.loads(lines[-2])["diagnostics"]
        runs.append({"seed": seed, "wall_s": time.time() - t0, "correct": result["correct"],
                     "failed": result["failed"], "attempted": result["attempted"],
                     "cpu_steal": diag["cpu_steal"], "passes": diag["passes"],
                     "metrics": {k: v["value"] for k, v in result["metrics"].items()}})
        print(json.dumps(runs[-1]), flush=True)

    summary = {}
    for m in runs[0]["metrics"]:
        vals = [r["metrics"][m] for r in runs]
        summary[m] = {"median": statistics.median(vals),
                      "spread": stats.spread(vals) if len(vals) > 1 else 0.0}
    out = {"workload": args.workload, "seconds": seconds, "runs": runs, "summary": summary,
           "run_wall_s_total": sum(r["wall_s"] for r in runs)}
    with open(args.out, "w", encoding="utf-8") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(summary, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
