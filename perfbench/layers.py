"""Per-layer numbers from Spark's own event log.

The traced run writes an uncompressed event log (``spark.eventLog.compress``
off: the default zstd codec needs ``zstandard``, which the image lacks).
Spark 4 rolls it into an ``eventlog_v2_*`` directory of ``events_<n>_*``
files. This module reads those files, attributes every job, stage, task and
streaming event to the query execution whose wall-clock window holds its
timestamp, and sums the result per layer.

Attribution is by window rather than by job group because the bounded
stream drains run on ``newSession()`` sessions whose micro-batch jobs carry
Spark's own run-id group, and a listener registered on the benchmark's
session would miss them. The benchmark runs one query at a time, so the
windows do not overlap and the attribution is exact.

What some metrics count, checked against independent figures on the
recorded log in ``tests/test_eventlog.py``:

- ``scan.input_mb`` is Spark's "size of files read" scan metric: the size of
  the files each file scan selected, whole files rather than the projected
  columns. The task metric "Bytes Read" is not used: Parquet's vectored
  reads run off the task thread, so it counts only the footer (6 KB of
  lineitem's 10.8 MB at sf0.1).
- ``python.run_s`` is "time to run Python workers": from the task's Python
  runner start to the worker's last output, so it includes starting a fresh
  worker and stays within the task's run time.
- Not reported: "time to start Python workers" is negative for a pooled
  worker, which Spark drops, so it reads 0 once the pool is warm; "time to
  initialize Python workers" starts when a pooled worker begins waiting for
  its next task, so it counts the idle time between tasks; "task commit
  time" is whole milliseconds and reads 0 for local-disk commits.
- ``python.sent_mb`` reads 0 for ``applyInPandasWithState``, whose runner
  does not report the bytes it sends.
"""

from __future__ import annotations

import bisect
import datetime as dt
import glob
import json
import os
from dataclasses import dataclass, field

MB = 1024 * 1024

_STREAM = "org.apache.spark.sql.streaming.StreamingQueryListener$"

_SQL = "org.apache.spark.sql.execution.ui.SparkListener"

# SQL metrics (task accumulables) read per task, keyed by the layer metric
# they feed: a "timing" metric in ms and two "size" metrics in bytes,
# converted to s and MB in per_execution.
_PY_ACC = {
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.sent_mb",
    "data returned from Python workers": "python.returned_mb",
}
# The driver-side scan metric behind scan.input_mb, in bytes.
_FILES_READ = "size of files read"

# Every per-layer metric of the traced run, with its unit and the layer
# that must be active for it to apply ("n/a" otherwise).
METRICS: dict[str, tuple[str, str]] = {
    "session.start_s": ("s", "session"),
    "build.cold_s": ("s", "build"),
    "build.s": ("s", "build"),
    "build.py4j_calls": ("count", "build"),
    "catalyst.analysis_s": ("s", "catalyst"),
    "catalyst.optimization_s": ("s", "catalyst"),
    "catalyst.planning_s": ("s", "catalyst"),
    "exec.s": ("s", "exec"),
    "exec.jobs": ("count", "exec"),
    "exec.stages": ("count", "exec"),
    "exec.tasks": ("count", "exec"),
    "exec.task_s": ("s", "exec"),
    "exec.critical_path_s": ("s", "exec"),
    "exec.core_use": ("cores", "exec"),
    "exec.gc_s": ("s", "exec"),
    "scan.input_mb": ("MB", "scan"),
    "scan.input_rows": ("count", "scan"),
    "scan.tasks": ("count", "scan"),
    "shuffle.write_mb": ("MB", "shuffle"),
    "shuffle.read_mb": ("MB", "shuffle"),
    "shuffle.spill_mb": ("MB", "shuffle"),
    "shuffle.reduce_tasks": ("count", "shuffle"),
    "python.run_s": ("s", "python"),
    "python.sent_mb": ("MB", "python"),
    "python.returned_mb": ("MB", "python"),
    "stream.queries": ("count", "stream"),
    "stream.batches": ("count", "stream"),
    "stream.input_rows": ("count", "stream"),
    "stream.trigger_s": ("s", "stream"),
    "stream.add_batch_s": ("s", "stream"),
    "stream.planning_s": ("s", "stream"),
    "stream.log_commit_s": ("s", "stream"),
    "stream.state_commit_s": ("s", "stream"),
    "stream.state_rows_peak": ("count", "stream"),
    "stream.state_mb_peak": ("MB", "stream"),
    "stream.lifecycle_s": ("s", "stream"),
    "stream.rows_per_s": ("1/s", "stream"),
    "write.output_mb": ("MB", "write"),
    "jvm.heap_peak_mb": ("MB", "jvm"),
    "trace.pass_s": ("s", "trace"),
}

# Taken as the maximum over a pass's queries instead of the sum.
PEAKS = {"stream.state_rows_peak", "stream.state_mb_peak", "jvm.heap_peak_mb", "python.active"}
# Ratios of two pass sums, computed after summing.
RATIOS = {
    "exec.core_use": ("exec.task_s", "exec.s"),
    "stream.rows_per_s": ("stream.input_rows", "stream.wall_s"),
}
_EVENT_LAYERS = {"exec", "scan", "shuffle", "python", "stream", "write", "jvm"}
# What per_execution fills from the event log, plus two helpers: the
# streams' wall time and whether any task reported Python-worker metrics.
_EVENT_KEYS = [
    k for k in METRICS if k.split(".")[0] in _EVENT_LAYERS and k not in RATIOS
] + ["stream.wall_s", "python.active"]


@dataclass
class Stream:
    run_id: str
    start_ms: float
    end_ms: float = 0.0
    progress: list[dict] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: list[tuple[float, float]] = field(default_factory=list)  # (submit, complete)
    stages: list[dict] = field(default_factory=list)
    tasks: list[dict] = field(default_factory=list)
    streams: list[Stream] = field(default_factory=list)
    heap: list[tuple[float, float]] = field(default_factory=list)  # (time, bytes)
    files_read: list[tuple[float, int]] = field(default_factory=list)  # (time, bytes)


def _iso_ms(s: str) -> float:
    return dt.datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp() * 1000.0


def event_files(log_dir: str) -> list[str]:
    """The rolled ``events_<n>_*`` files of the one application logged
    under ``log_dir``, in roll order."""
    apps = glob.glob(os.path.join(log_dir, "eventlog_v2_*"))
    if len(apps) != 1:
        raise ValueError(f"expected one eventlog_v2_* directory in {log_dir}, found {len(apps)}")
    files = glob.glob(os.path.join(apps[0], "events_*"))
    return sorted(files, key=lambda p: int(os.path.basename(p).split("_")[1]))


def _task(ev: dict) -> dict:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    t = {
        "stage": ev["Stage ID"],
        "launch": info["Launch Time"],
        "finish": info["Finish Time"],
        "run_ms": m.get("Executor Run Time", 0),
        "gc_ms": m.get("JVM GC Time", 0),
        "in_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),  # see module doc
        "in_rows": (m.get("Input Metrics") or {}).get("Records Read", 0),
        "out_bytes": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
        "sw_bytes": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
        "sr_bytes": sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0),
        "sr_blocks": sr.get("Local Blocks Fetched", 0) + sr.get("Remote Blocks Fetched", 0),
        "spill_bytes": m.get("Disk Bytes Spilled", 0),
        "heap": (ev.get("Task Executor Metrics") or {}).get("JVMHeapMemory", 0),
    }
    for a in info.get("Accumulables", []):
        if a.get("Name") in _PY_ACC:
            key = _PY_ACC[a["Name"]]
            t[key] = t.get(key, 0) + int(a.get("Update") or 0)
    return t


def _metric_ids(plan: dict, name: str) -> set[int]:
    """Accumulator ids of the SQL metric ``name`` anywhere in a plan tree."""
    ids = {m["accumulatorId"] for m in plan.get("metrics", []) if m.get("name") == name}
    for child in plan.get("children", []):
        ids |= _metric_ids(child, name)
    return ids


def parse(lines) -> EventLog:
    """Parse event-log JSON lines into the records the layer table needs."""
    log = EventLog()
    sql_start: dict[int, float] = {}  # SQL execution id -> start time
    files_ids: set[int] = set()
    submit: dict[int, float] = {}
    stage_done: dict[int, float] = {}
    streams: dict[str, Stream] = {}
    last_ms = 0.0  # latest timestamp seen, in log order
    for line in lines:
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            submit[ev["Job ID"]] = ev["Submission Time"]
            last_ms = max(last_ms, ev["Submission Time"])
        elif kind == "SparkListenerJobEnd":
            start = submit.pop(ev["Job ID"], None)
            if start is not None:
                log.jobs.append((start, ev["Completion Time"]))
            last_ms = max(last_ms, ev["Completion Time"])
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            if "Submission Time" in si and "Completion Time" in si:
                log.stages.append({"id": si["Stage ID"], "submit": si["Submission Time"]})
                stage_done[si["Stage ID"]] = si["Completion Time"]
                last_ms = max(last_ms, si["Completion Time"])
        elif kind == "SparkListenerTaskEnd":
            t = _task(ev)
            log.tasks.append(t)
            last_ms = max(last_ms, t["finish"])
        elif kind == "SparkListenerStageExecutorMetrics":
            heap = (ev.get("Executor Metrics") or {}).get("JVMHeapMemory", 0)
            if ev["Stage ID"] in stage_done and heap:
                log.heap.append((stage_done[ev["Stage ID"]], heap))
        elif kind in (_SQL + "SQLExecutionStart", _SQL + "SQLAdaptiveExecutionUpdate"):
            if "time" in ev:
                sql_start[ev["executionId"]] = ev["time"]
            files_ids |= _metric_ids(ev["sparkPlanInfo"], _FILES_READ)
        elif kind == _SQL + "DriverAccumUpdates":
            # the scan posts the value when it runs; the event has no time,
            # so it takes its SQL execution's start
            start = sql_start.get(ev["executionId"])
            for acc_id, value in ev["accumUpdates"]:
                if acc_id in files_ids and start is not None:
                    log.files_read.append((start, value))
        elif kind == _STREAM + "QueryStartedEvent":
            s = Stream(ev["runId"], _iso_ms(ev["timestamp"]))
            streams[s.run_id] = s
            log.streams.append(s)
            last_ms = max(last_ms, s.start_ms)
        elif kind == _STREAM + "QueryProgressEvent":
            p = ev["progress"]
            s = streams.get(p["runId"])
            if s is not None:
                s.progress.append(p)
                end = _iso_ms(p["timestamp"]) + p.get("batchDuration", 0)
                s.end_ms = max(s.end_ms, end)
                last_ms = max(last_ms, end)
        elif kind == _STREAM + "QueryTerminatedEvent":
            # the event carries no time: the query ended after everything
            # logged before it
            s = streams.get(ev["runId"])
            if s is not None:
                s.end_ms = max(s.end_ms, last_ms, s.start_ms)
    for s in log.streams:
        s.end_ms = max(s.end_ms, s.start_ms)
    for t in log.tasks:
        if t["heap"]:
            log.heap.append((t["finish"], t["heap"]))
    return log


def read_log(log_dir: str) -> EventLog:
    def lines():
        for path in event_files(log_dir):
            with open(path, encoding="utf-8") as f:
                yield from (ln for ln in f if ln.strip())

    return parse(lines())


class Windows:
    """Wall-clock windows of the query executions, one at a time, so that
    ``find(t)`` names the execution whose window holds time ``t`` (epoch ms)
    or returns None for work outside every window."""

    def __init__(self, windows: list[tuple[float, float]]):
        order = sorted(range(len(windows)), key=lambda i: windows[i][0])
        self._starts = [windows[i][0] for i in order]
        self._ends = [windows[i][1] for i in order]
        self._ids = order
        for a, b in zip(self._ends, self._starts[1:]):
            if b < a:
                raise ValueError("query windows overlap; attribution needs one query at a time")

    def find(self, t: float) -> int | None:
        k = bisect.bisect_right(self._starts, t) - 1
        if k >= 0 and t <= self._ends[k]:
            return self._ids[k]
        return None


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total / 1000.0


def per_execution(log: EventLog, windows: list[tuple[float, float]]) -> list[dict]:
    """Layer numbers for each execution window ``(start_ms, end_ms)``, in
    the order given. Build-phase numbers come from the benchmark's own
    record and are merged by the caller."""
    w = Windows(windows)
    out = [dict.fromkeys(_EVENT_KEYS, 0) for _ in windows]
    jobs: list[list[tuple[float, float]]] = [[] for _ in windows]
    for a, b in log.jobs:
        i = w.find(a)
        if i is not None:
            jobs[i].append((a, b))
            out[i]["exec.jobs"] += 1
    for i, iv in enumerate(jobs):
        out[i]["exec.s"] = _union_s(iv)
    stage_of: dict[int, int] = {}
    for s in log.stages:
        i = w.find(s["submit"])
        if i is not None:
            out[i]["exec.stages"] += 1
            stage_of[s["id"]] = i
    longest: dict[int, float] = {}
    for t in log.tasks:
        i = w.find(t["launch"])
        if i is None:
            continue
        r = out[i]
        r["exec.tasks"] += 1
        r["exec.task_s"] += t["run_ms"] / 1000.0
        r["exec.gc_s"] += t["gc_ms"] / 1000.0
        longest[t["stage"]] = max(longest.get(t["stage"], 0.0), t["run_ms"] / 1000.0)
        r["scan.input_rows"] += t["in_rows"]
        r["scan.tasks"] += 1 if (t["in_bytes"] or t["in_rows"]) else 0
        r["shuffle.write_mb"] += t["sw_bytes"] / MB
        r["shuffle.read_mb"] += t["sr_bytes"] / MB
        r["shuffle.spill_mb"] += t["spill_bytes"] / MB
        r["shuffle.reduce_tasks"] += 1 if t["sr_blocks"] else 0
        r["write.output_mb"] += t["out_bytes"] / MB
        r["python.run_s"] += t.get("python.run_s", 0) / 1000.0
        for key in ("python.sent_mb", "python.returned_mb"):
            r[key] += t.get(key, 0) / MB
        if "python.run_s" in t:
            r["python.active"] = 1
    # critical path: stages of one query run one after another here, so the
    # longest task of each stage is on it
    for stage, secs in longest.items():
        i = stage_of.get(stage)
        if i is not None:
            out[i]["exec.critical_path_s"] += secs
    for s in log.streams:
        i = w.find(s.start_ms)
        if i is None:
            continue
        r = out[i]
        r["stream.queries"] += 1
        wall = (s.end_ms - s.start_ms) / 1000.0
        trig = 0.0
        for p in s.progress:
            d = p.get("durationMs") or {}
            r["stream.batches"] += 1
            r["stream.input_rows"] += sum(src.get("numInputRows", 0) for src in p.get("sources") or [])
            trig += d.get("triggerExecution", 0) / 1000.0
            r["stream.add_batch_s"] += d.get("addBatch", 0) / 1000.0
            r["stream.planning_s"] += d.get("queryPlanning", 0) / 1000.0
            r["stream.log_commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000.0
            ops = p.get("stateOperators") or []
            r["stream.state_commit_s"] += sum(o.get("commitTimeMs", 0) for o in ops) / 1000.0
            r["stream.state_rows_peak"] = max(
                r["stream.state_rows_peak"], sum(o.get("numRowsTotal", 0) for o in ops))
            r["stream.state_mb_peak"] = max(
                r["stream.state_mb_peak"], sum(o.get("memoryUsedBytes", 0) for o in ops) / MB)
        r["stream.trigger_s"] += trig
        r["stream.wall_s"] += wall
        r["stream.lifecycle_s"] += max(wall - trig, 0.0)
    for t_ms, size in log.files_read:
        i = w.find(t_ms)
        if i is not None:
            out[i]["scan.input_mb"] += size / MB
    for t_ms, heap in log.heap:
        i = w.find(t_ms)
        if i is not None:
            out[i]["jvm.heap_peak_mb"] = max(out[i]["jvm.heap_peak_mb"], heap / MB)
    return out


def per_pass(executions: list[dict]) -> dict:
    """Combine one pass's executions: sums, except peaks (max) and ratios
    (taken from the summed parts)."""
    keys = {k for e in executions for k in e}
    total = {}
    for k in keys:
        vals = [e.get(k, 0) for e in executions]
        total[k] = max(vals) if k in PEAKS else sum(vals)
    for k, (num, den) in RATIOS.items():
        total[k] = total[num] / total[den] if total.get(den) else 0.0
    return total


def table(traced: dict[str, dict]) -> list[str]:
    """Markdown rows of the layer table, one column per workload; each value
    of ``traced`` holds a traced run's ``values``, ``used`` layers,
    ``overhead`` and ``seed``. Metrics of unused layers read ``n/a``."""
    ws = list(traced)
    rows = ["| metric | unit | " + " | ".join(ws) + " |", "|---|---|" + "---:|" * len(ws)]
    for name, (unit, layer) in METRICS.items():
        cells = [f"{traced[w]['values'][name]:.4g}" if traced[w]["used"].get(layer, True)
                 else "n/a" for w in ws]
        rows.append(f"| {name} | {unit} | " + " | ".join(cells) + " |")
    rows.append("| trace.overhead | traced / untraced pass_s | "
                + " | ".join(str(traced[w]["overhead"]) for w in ws) + " |")
    rows.append("| trace seed | | " + " | ".join(str(traced[w]["seed"]) for w in ws) + " |")
    return rows
