#!/usr/bin/env python
"""Round-15 measurement harness (optimization guide §1): per headline query,
split driver-side plan-BUILD time from EXECUTION time, capture
``explain("formatted")`` to a plans dir, and count plan features (Exchange /
BatchEvalPython / ArrowEvalPython / WholeStageCodegen nodes, join strategies)
so optimization targets are chosen from evidence, not guesses.

Usage:
    python tools/profile_queries.py [outdir] [query,query,...]

Writes <outdir>/<query>.txt (formatted plan) and prints one JSON line per
query: {"name", "build_sec", "exec_sec", "exchanges", "bev", "aev",
"wsc", "joins": {...}}, then a sorted summary table to stderr.
"""

from __future__ import annotations

import io
import json
import os
import re
import sys
import time
from contextlib import redirect_stdout

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from pyspark.sql import functions as F

from bench import HEADLINE, _serving_surfaces, materialize, prefault
from transf_spark import queries as q
from transf_spark.session import get_spark


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def plan_stats(txt: str) -> dict:
    joins: dict[str, int] = {}
    for m in re.finditer(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
                         r"BroadcastNestedLoopJoin|CartesianProduct)", txt):
        joins[m.group(1)] = joins.get(m.group(1), 0) + 1
    return {
        "exchanges": len(re.findall(r"\bExchange\b", txt)),
        "bev": len(re.findall(r"BatchEvalPython", txt)),
        "aev": len(re.findall(r"ArrowEvalPython", txt)),
        "mip": len(re.findall(r"MapInPandas|PythonMapInArrow|MapInArrow", txt)),
        "wsc": len(re.findall(r"WholeStageCodegen", txt)),
        "joins": joins,
    }


def main() -> None:
    outdir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/plans_r15"
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("PROFILE_REPS", "3"))
    spark = get_spark("transf_spark_profile")

    registry = {**q.queries(), **_serving_surfaces()}
    if len(sys.argv) > 2:
        names = [s for s in sys.argv[2].split(",") if s]
    else:
        names = [n for n in HEADLINE if n in registry]

    # Warmup at sf0.001 exactly like bench.py so codegen caches are hot.
    spark.range(1_000_000).select(F.sum("id")).collect()
    for name in names:
        try:
            materialize(registry[name](spark, "/root/testdata/sf0.001"))
        except Exception as e:
            print(f"warm-up {name} failed: {type(e).__name__}", file=sys.stderr)
    prefault(sf_dir)

    rows = []
    for name in names:
        spark.sparkContext.setJobDescription(f"profile:{name}")
        build = exec_t = float("inf")
        stats, err = {}, None
        for _ in range(reps):
            try:
                t0 = time.perf_counter()
                df = registry[name](spark, sf_dir)
                t1 = time.perf_counter()
                materialize(df)
                t2 = time.perf_counter()
            except Exception as e:  # noqa: BLE001
                err = repr(e)[:200]
                break
            build = min(build, t1 - t0)
            exec_t = min(exec_t, t2 - t1)
        if err is None:
            df = registry[name](spark, sf_dir)
            txt = plan_text(df)
            safe = name.replace(":", "_")
            with open(os.path.join(outdir, f"{safe}.txt"), "w") as f:
                f.write(txt)
            stats = plan_stats(txt)
        row = {
            "name": name,
            "build_sec": round(build, 4) if build != float("inf") else None,
            "exec_sec": round(exec_t, 4) if exec_t != float("inf") else None,
            "err": err,
            **stats,
        }
        rows.append(row)
        print(json.dumps(row), flush=True)

    rows.sort(key=lambda r: -((r["build_sec"] or 0) + (r["exec_sec"] or 0)))
    print("\n== slowest (build+exec) ==", file=sys.stderr)
    for r in rows[:40]:
        print(
            f"{r['name']:38s} build={r['build_sec']:.3f} exec={r['exec_sec']:.3f} "
            f"ex={r.get('exchanges')} wsc={r.get('wsc')} py={r.get('bev',0)}/{r.get('aev',0)}/{r.get('mip',0)} "
            f"joins={r.get('joins')}",
            file=sys.stderr,
        )
    tb = sum(r["build_sec"] or 0 for r in rows)
    te = sum(r["exec_sec"] or 0 for r in rows)
    print(f"TOTAL build={tb:.2f}s exec={te:.2f}s", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
