"""Spark driver side of one benchmark run; ``run.py`` starts it.

It builds every query through ``__spark_entry__.queries()[name](spark,
sf_dir)`` and runs it to completion with ``bench.materialize``, one query at
a time. The order of the queries is permuted per pass from the seed. It
writes a JSON record of every execution and exits; ``run.py`` turns that
record into metrics.

- Warm passes (untimed, part of set-up): every query once per pass. The
  first pass's fingerprints are the reference every later execution is
  compared against.
- Timed passes: enough full passes to fill ``--seconds`` at the workload's
  nominal pass time (at least two).
- Live heap: the JVM heap in use after a full collection, once the timed
  passes are done.
- Oracle check (untimed, after everything measured): each first-pass
  DataFrame against its DuckDB SQL through ``tests/oracle.py``.

With ``--trace 1`` it also counts py4j commands during each plan build and
reads the Catalyst phase times of the DataFrame that ``materialize``
collects. The event log is turned on by ``run.py`` through the submit
arguments.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import random
import sys
import time
import traceback


HEAP_ROUNDS_MAX = 12  # the figure settled within three rounds in every trial


class Py4jCounter:
    """Counts the commands the driver sends over the py4j gateway."""

    def __init__(self, client):
        self.n = 0
        self._send = client.send_command
        client.send_command = self._count

    def _count(self, *args, **kwargs):
        self.n += 1
        return self._send(*args, **kwargs)


class Capture:
    """Stands in for a query's DataFrame inside ``bench.materialize`` and
    keeps the DataFrame it selects, whose ``queryExecution`` holds the
    planning phases of the collect."""

    def __init__(self, df):
        self._df = df
        self.selected = None

    @property
    def columns(self):
        return self._df.columns

    def select(self, *cols):
        self.selected = self._df.select(*cols)
        return self.selected


def catalyst_phases(df) -> dict:
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        out[name] = p.get().durationMs() / 1000.0 if p.isDefined() else 0.0
    return out


def live_heap_mb(spark) -> float:
    """JVM heap in use after full collections: what the session keeps live.

    One collection is not enough: it lets Spark's ContextCleaner release the
    broadcast and shuffle blocks of unreachable plans, and only a later
    collection frees them. On a 4-core host one run read 168, 148, 72, 72 MB
    in successive rounds, so collections repeat until the figure has stopped
    falling for two rounds. Python's collector runs first in each round so
    that py4j proxies it frees release their JVM objects."""
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    readings: list[float] = []
    while len(readings) < HEAP_ROUNDS_MAX:
        gc.collect()
        jvm.java.lang.System.gc()
        readings.append(bean.getHeapMemoryUsage().getUsed() / (1024 * 1024))
        if len(readings) >= 3 and readings[-3] - readings[-1] < 1.0:
            break
        time.sleep(0.5)
    return readings[-1]


def timed_passes(seconds: float, pass_s_nominal: float) -> int:
    """Passes that fill ``seconds`` at the workload's nominal pace, at least
    two. The count depends on ``seconds`` only, not on how fast this host
    runs today, so every run of a workload does the same work."""
    return max(2, math.ceil(seconds / pass_s_nominal))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    sys.path.insert(0, args.root)
    import __spark_entry__ as entry
    from bench import materialize
    from perfbench.workloads import WORKLOADS
    from tests.oracle import compare, duckdb_con
    from transf_spark.session import get_spark
    from transf_spark.sources.tables import DEFAULT_SF_DIR

    workload = WORKLOADS[args.workload]
    sf_dir = os.path.join(os.path.dirname(DEFAULT_SF_DIR.rstrip("/")), workload["fixture"])
    names = workload["queries"]
    registry = entry.queries()
    oracle_sql = entry.oracle_sql()
    rng = random.Random(args.seed)

    t = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t
    py4j = Py4jCounter(spark.sparkContext._gateway._gateway_client) if args.trace else None

    executions: list[dict] = []
    warm_df: dict = {}
    warm_fp: dict = {}

    def run(name: str, pass_no: int) -> None:
        rec = {"q": name, "pass": pass_no, "ok": False}
        p0 = py4j.n if py4j else 0
        rec["start"] = time.time() * 1000.0
        t0 = time.perf_counter()
        try:
            df = registry[name](spark, sf_dir)
            rec["build_s"] = time.perf_counter() - t0
            rec["py4j"] = (py4j.n - p0) if py4j else 0
            cap = Capture(df) if args.trace else df
            fp = materialize(cap)
            rec["s"] = time.perf_counter() - t0
            rec["end"] = time.time() * 1000.0
            if args.trace:
                rec["catalyst"] = catalyst_phases(cap.selected)
            rec["fp"] = str(fp)
            if pass_no == -1:
                warm_df[name], warm_fp[name] = df, rec["fp"]
            rec["ok"] = warm_fp.get(name) == rec["fp"]
        except Exception:
            rec["error"] = traceback.format_exc(limit=3)
            rec.setdefault("s", time.perf_counter() - t0)
            rec.setdefault("end", time.time() * 1000.0)
        executions.append(rec)

    for p in range(workload["warm_passes"]):
        for name in rng.sample(names, len(names)):
            run(name, -1 - p)

    first_timed = time.time()
    passes: list[float] = []
    for _ in range(timed_passes(args.seconds, workload["pass_s_nominal"])):
        p0 = time.perf_counter()
        for name in rng.sample(names, len(names)):
            run(name, len(passes))
        passes.append(time.perf_counter() - p0)
    timed_end = time.time()
    heap_live = live_heap_mb(spark)

    oracle: dict[str, list[str]] = {}
    con = duckdb_con(sf_dir)
    for name in names:
        if name not in warm_df:
            oracle[name] = ["warm pass failed"]
        elif name in oracle_sql:
            try:
                oracle[name] = compare(warm_df[name], con, oracle_sql[name])
            except Exception:
                oracle[name] = [traceback.format_exc(limit=3)]
        else:
            oracle[name] = []  # no oracle twin: the fingerprint check alone applies
    con.close()

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "sf_dir": sf_dir,
        "session_s": session_s,
        "first_timed_epoch": first_timed,
        "timed_end_epoch": timed_end,
        "heap_live_mb": heap_live,
        "passes": passes,
        "executions": executions,
        "oracle": oracle,
    }
    with open(args.out, "w", encoding="utf-8") as f:
        json.dump(record, f)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
