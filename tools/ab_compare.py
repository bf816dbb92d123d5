#!/usr/bin/env python
"""Interleaved A/B timing harness (round-16; guide §1 protocol, the same
min-of-N-across-passes discipline as bench.py).

Times a set of REGISTERED queries (plus the serving surfaces) interleaved —
one full pass over the set per rep, each query's reported number is its MIN
across passes — so a host contention burst must span the entire session to
contaminate a minimum. Runs bench.py's calibration probes (pure-CPU range
hash and sf lineitem scan, ``bench._calibrate``) at both ends so the artifact
carries host context.

Usage:
    python tools/ab_compare.py [--reps 7] [--sf /root/testdata/sf0.1]
                               [--out plans/r16/foo_ab.json] q1 q2 ...

Output JSON: {"queries": {name: min_sec}, "pass_totals": [...],
"calibration": {...}, "reps": N, "sf_dir": ...}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from bench import (
    CAL_RANGE_ANCHOR_SEC,
    CAL_SCAN_ANCHOR_SEC,
    _calibrate,
    _serving_surfaces,
    materialize,
    prefault,
)
from transf_spark import queries as q
from transf_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=7)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default=None)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    spark = get_spark("transf_spark_ab")
    registry = {**q.queries(), **_serving_surfaces()}
    missing = [n for n in args.names if n not in registry]
    if missing:
        raise SystemExit(f"unknown queries: {missing}")

    # page-cache prefault + warmup (bench.py protocol)
    prefault(args.sf)
    for n in args.names:
        try:
            materialize(registry[n](spark, "/root/testdata/sf0.001"))
        except Exception as e:
            print(f"warm-up {n} failed: {type(e).__name__}", file=sys.stderr)

    cal_start = _calibrate(spark, args.sf)
    t: dict[str, float] = {}
    pass_totals: list[float] = []
    for _ in range(args.reps):
        p0 = time.perf_counter()
        for n in args.names:
            t0 = time.perf_counter()
            materialize(registry[n](spark, args.sf))
            dt = time.perf_counter() - t0
            if dt < t.get(n, float("inf")):
                t[n] = dt
        pass_totals.append(round(time.perf_counter() - p0, 3))
    cal_end = _calibrate(spark, args.sf)

    out = {
        "queries": {n: round(v, 4) for n, v in t.items()},
        "pass_totals": pass_totals,
        "calibration": {
            "range_start_sec": cal_start["range_sec"],
            "range_end_sec": cal_end["range_sec"],
            "range_anchor_sec": CAL_RANGE_ANCHOR_SEC,
            "scan_start_sec": cal_start["scan_sec"],
            "scan_end_sec": cal_end["scan_sec"],
            "scan_anchor_sec": CAL_SCAN_ANCHOR_SEC,
        },
        "reps": args.reps,
        "agg": "min",
        "sf_dir": args.sf,
    }
    line = json.dumps(out)
    if args.out:
        os.makedirs(os.path.dirname(args.out) or ".", exist_ok=True)
        with open(args.out, "w") as f:
            f.write(line + "\n")
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
