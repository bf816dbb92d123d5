#!/usr/bin/env python3
"""Benchmark of the declared query engine, measured from outside it.

    python3 perfbench/run.py --workload tpch_batch --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. One driver process on ``local[<cores>]``
runs one query at a time (a closed loop with one client) over the
workload's fixture; the seed permutes the query order within each pass.
The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.

Every run starts from the same state: the program's staging under
``/tmp/transf_spark_*`` and the Spark local and temp dirs are deleted, and
``SPARK_GRAFT_CPUS`` (cores), ``SPARK_LOCAL_DIRS``, ``TMPDIR`` and
``SPARK_GRAFT_DRIVER_MEM`` (a fixed-size heap) are pinned.

``--trace 0`` reports the end-to-end metrics:

- ``setup_s``: process start to the first timed pass. Covers JVM and
  session start, imports, cold staging and the workload's untimed warm
  passes over its fixture.
- ``pass_s``: median wall time of a timed pass, which runs every query once.
  A run makes enough passes to fill ``--seconds`` at the workload's nominal
  pass time, at least two, so its work does not depend on the host's speed.
- ``query_geomean_s``: geometric mean over the queries of each query's
  median build + execute time.
- ``query_s_p90``: nearest-rank 90th percentile over all timed executions;
  the diagnostics give the sample count and how many lie beyond it.
- ``driver_rss_peak_mb``: peak RSS of the driver Python process plus its
  JVM, sampled every 0.25 s from process start to the end of the timed
  passes, less the fixed heap. The heap is pre-touched at its full size
  (see ``main``), so it is a constant part of the RSS; what is left moves
  with the program's off-heap memory and the Python driver.
- ``heap_live_mb``: JVM heap in use at the end of the timed passes, after
  full collections repeated until it stops falling: the heap the session
  keeps live.

The oracle check runs after all of this and is in no metric.

An execution fails when it raises, when its ``bench.materialize``
fingerprint differs from the first warm pass's, or when the query's
first-warm-pass result mismatches the DuckDB oracle. ``failed /
attempted`` is the run's fail ratio; the diagnostics name failing queries.

``--trace 1`` runs the same protocol with Spark's event log, a py4j command
counter and the Catalyst phase tracker on, and reports the ``per_layer``
metrics of ``BENCHMARK.json`` (median over timed passes of per-pass sums):
those of the layers every listed workload uses. It also prints the table of
all of ``layers.METRICS``, marking ``n/a`` the layers the workload does not
use, with the tracing overhead against the last untraced run of the same
workload in this checkout.

Diagnostics (per-query median/min/max, pass totals, seed, CPU steal, pinned
settings, every raw value) go to ``perfbench/_work/runs/`` and to a
``diagnostics`` line printed before the result.
"""

from __future__ import annotations

import argparse
import fcntl
import glob
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
sys.path.insert(0, ROOT)

from perfbench import layers, stats  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

# The program's own files the benchmark drives; without them it cannot run.
REQUIRED = ("__spark_entry__.py", "bench.py", "tests/oracle.py", "transf_spark/session.py")
# Staging the program writes and reuses across processes, keyed by fixture.
STAGING_GLOB = "/tmp/transf_spark_*"
WORKER_TIMEOUT_S = 150.0  # leaves time to stop the process group within 180 s
RSS_PERIOD_S = 0.25
TRACE_CONFS = {
    "spark.eventLog.enabled": "true",
    # the default zstd codec needs the zstandard module, which is absent
    "spark.eventLog.compress": "false",
    "spark.eventLog.logStageExecutorMetrics": "true",
    "spark.executor.metrics.pollingInterval": "250ms",
}


def cpu_times() -> list[int]:
    with open("/proc/stat", encoding="ascii") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_fraction(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])  # guest time is already inside user time
    return d[7] / total if total else 0.0


def driver_mem_mb() -> int:
    """Driver heap pinned to fit the host: a quarter of RAM, at most 2 GiB."""
    with open("/proc/meminfo", encoding="ascii") as f:
        total_kb = int(f.readline().split()[1])
    return min(2048, total_kb // 4 // 1024)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat, encoding="ascii", errors="replace") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    return kids


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm", encoding="ascii", errors="replace") as f:
            return f.read().strip()
    except OSError:
        return ""


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", encoding="ascii") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler(threading.Thread):
    """RSS of the driver process plus the JVM it starts, as (epoch s, bytes)
    samples. Python workers the JVM forks are not the driver and are left
    out."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid = pid
        self.samples: list[tuple[float, int]] = []
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.wait(RSS_PERIOD_S):
            kids, todo, pids = _children(), [self.pid], [self.pid]
            while todo:
                for c in kids.get(todo.pop(), []):
                    todo.append(c)
                    if _comm(c) == "java":
                        pids.append(c)
            self.samples.append((time.time(), sum(_rss_bytes(p) for p in pids)))

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()

    def peak(self, until: float) -> int:
        return max((b for t, b in self.samples if t <= until), default=0)


def reset_dirs(*dirs: str) -> None:
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    for d in glob.glob(STAGING_GLOB):
        if os.path.isdir(d):
            shutil.rmtree(d, ignore_errors=True)
        else:
            os.remove(d)


def kill_group(proc: subprocess.Popen) -> None:
    """Stop every process the worker started (the JVM and its Python
    workers share its process group) and wait until they are gone."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + 10
        while time.time() < deadline:
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def failures(record: dict) -> tuple[int, int, list[str]]:
    """(attempted, failed, failing query names) over the timed executions."""
    bad_queries = {q for q, problems in record["oracle"].items() if problems}
    timed = [e for e in record["executions"] if e["pass"] >= 0]
    failed = [e for e in timed if not e["ok"] or e["q"] in bad_queries]
    return len(timed), len(failed), sorted({e["q"] for e in failed} | bad_queries)


def per_query(timed: list[dict]) -> dict[str, dict]:
    by_q: dict[str, list[float]] = {}
    for e in timed:
        by_q.setdefault(e["q"], []).append(e["s"])
    return {
        q: {"median": statistics.median(v), "min": min(v), "max": max(v), "n": len(v)}
        for q, v in sorted(by_q.items())
    }


def end_to_end(record: dict, t0: float, rss_peak: int, heap_mb: int) -> dict[str, tuple[float, str]]:
    timed = [e for e in record["executions"] if e["pass"] >= 0]
    medians = [v["median"] for v in per_query(timed).values()]
    return {
        "setup_s": (record["first_timed_epoch"] - t0, "s"),
        "pass_s": (statistics.median(record["passes"]), "s"),
        "query_geomean_s": (stats.geomean(medians), "s"),
        "query_s_p90": (stats.percentile([e["s"] for e in timed], 0.9), "s"),
        "driver_rss_peak_mb": (rss_peak / layers.MB - heap_mb, "MB"),
        "heap_live_mb": (record["heap_live_mb"], "MB"),
    }


def per_layer(record: dict, log_dir: str) -> tuple[dict[str, float], dict[str, bool]]:
    """Per-layer metrics (median over timed passes) and which layers the
    workload used."""
    execs = record["executions"]
    rows = layers.per_execution(
        layers.read_log(log_dir), [(e["start"], e["end"]) for e in execs]
    )
    for e, r in zip(execs, rows):
        # a stream query's registry call runs the drain: its build time is
        # the call minus the stream's own wall time
        r["build.s"] = max(e.get("build_s", 0.0) - r["stream.wall_s"], 0.0)
        r["build.py4j_calls"] = e.get("py4j", 0)
        for phase, secs in e.get("catalyst", {}).items():
            r[f"catalyst.{phase}_s"] = secs
    n_pass = len(record["passes"])
    sums = [layers.per_pass([r for e, r in zip(execs, rows) if e["pass"] == p])
            for p in range(n_pass)]
    out = {k: statistics.median([s.get(k, 0.0) for s in sums]) for k in layers.METRICS}
    out["session.start_s"] = record["session_s"]
    out["build.cold_s"] = rows[0]["build.s"]
    out["trace.pass_s"] = statistics.median(record["passes"])
    used = {
        "stream": out["stream.queries"] > 0,
        "python": any(s.get("python.active") for s in sums),
        "write": out["write.output_mb"] > 0,
        "scan": out["scan.tasks"] > 0,
        "shuffle": out["shuffle.write_mb"] > 0 or out["shuffle.read_mb"] > 0,
    }
    return out, used


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        reported = [m["name"] for m in json.load(f)["per_layer"]]

    local_dir, tmp_dir, log_dir = (os.path.join(WORK, d) for d in ("spark-local", "tmp", "eventlog"))
    runs_dir = os.path.join(WORK, "runs")
    os.makedirs(runs_dir, exist_ok=True)
    # one run at a time per checkout: a second run would delete the first
    # one's Spark local dirs and staging, and share its cores
    lock = open(os.path.join(WORK, ".lock"), "w")  # held until the process exits
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        print("perfbench: another run is in progress in this checkout", file=sys.stderr)
        return 1
    reset_dirs(local_dir, tmp_dir, log_dir)
    cpus = len(os.sched_getaffinity(0))
    heap_mb = driver_mem_mb()
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": local_dir,
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "TMPDIR": tmp_dir,
    }
    # A fixed, pre-touched heap (-Xms at the -Xmx that SPARK_GRAFT_DRIVER_MEM
    # sets): a growing heap's resident size follows GC timing, which made
    # peak RSS swing by a quarter between runs of the same code. The heap is
    # then a constant part of the RSS, which driver_rss_peak_mb leaves out;
    # heap demand is heap_live_mb.
    heap = pinned["SPARK_GRAFT_DRIVER_MEM"]
    submit = ["--driver-java-options",
              f"-Djava.io.tmpdir={tmp_dir} -Xms{heap} -XX:+AlwaysPreTouch"]
    if args.trace:
        for k, v in {**TRACE_CONFS, "spark.eventLog.dir": f"file://{log_dir}"}.items():
            submit += ["--conf", f"{k}={v}"]
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(pinned)
    env["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

    out_path = os.path.join(WORK, "record.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--root", ROOT,
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", out_path]
    cpu0 = cpu_times()
    t0 = time.time()
    proc = subprocess.Popen(cmd, env=env, cwd=ROOT, start_new_session=True,
                            stdout=subprocess.DEVNULL, stderr=subprocess.PIPE)
    sampler = RssSampler(proc.pid)
    sampler.start()
    try:
        _, err = proc.communicate(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        kill_group(proc)
        proc.communicate()
        print(f"perfbench: worker exceeded {WORKER_TIMEOUT_S:.0f} s", file=sys.stderr)
        return 1
    finally:
        sampler.stop()
        kill_group(proc)
    wall = time.time() - t0
    if proc.returncode != 0:
        sys.stderr.write(err.decode(errors="replace")[-4000:])
        print(f"perfbench: worker exited with {proc.returncode}", file=sys.stderr)
        return 1
    with open(out_path, encoding="utf-8") as f:
        record = json.load(f)

    attempted, failed, failing = failures(record)
    timed = [e for e in record["executions"] if e["pass"] >= 0]
    diag = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "fixture": record["sf_dir"],
        "pinned": pinned,
        "cpu_steal": steal_fraction(cpu0, cpu_times()),
        "run_wall_s": wall,
        "passes": len(record["passes"]),
        "pass_totals_s": record["passes"],
        "executions": len(timed),
        "p90_n_beyond": stats.n_beyond(len(timed), 0.9),
        "p90_min_samples": stats.min_samples(0.9),
        "rss_samples": len(sampler.samples),
        "fail_ratio": failed / attempted if attempted else 1.0,
        "failing_queries": failing,
        "oracle_problems": {q: p for q, p in record["oracle"].items() if p},
        "errors": {e["q"]: e["error"] for e in record["executions"] if "error" in e},
        "per_query_s": per_query(timed),
        "raw_s": [[e["q"], e["pass"], e["s"]] for e in record["executions"]],
    }
    if args.trace:
        values, used = per_layer(record, log_dir)
        untraced_path = os.path.join(WORK, f"untraced-{args.workload}.json")
        overhead = "n/a (no untraced run yet)"
        if os.path.exists(untraced_path):
            with open(untraced_path, encoding="utf-8") as f:
                base = json.load(f)
            overhead = f"{values['trace.pass_s'] / base['pass_s']:.3f} (vs seed {base['seed']})"
        traced = {"values": values, "used": used, "overhead": overhead, "seed": args.seed}
        diag["layers_used"] = used
        with open(os.path.join(WORK, f"layers-{args.workload}.json"), "w", encoding="utf-8") as f:
            json.dump(traced, f, indent=1)
        print("\n".join(layers.table({args.workload: traced})))
        metrics = {k: {"value": values[k], "unit": layers.METRICS[k][0]} for k in reported}
    else:
        e2e = end_to_end(record, t0, sampler.peak(record["timed_end_epoch"]), heap_mb)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        with open(os.path.join(WORK, f"untraced-{args.workload}.json"), "w", encoding="utf-8") as f:
            json.dump({"pass_s": e2e["pass_s"][0], "seed": args.seed}, f)
    diag["metrics"] = metrics
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(runs_dir, f"{stamp}-{args.workload}-s{args.seed}-t{args.trace}.json"),
              "w", encoding="utf-8") as f:
        json.dump(diag, f, indent=1)
    print(json.dumps({"diagnostics": {k: v for k, v in diag.items()
                                      if k not in ("raw_s", "metrics")}}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
