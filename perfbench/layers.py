"""Per-layer instruments the benchmark attaches from outside the package.

* ``Shims`` wraps the package's public table loader, its materialisation
  primitive and the manifest-table commit and read functions with timers.
  The wrappers are bound in every package module namespace that holds the
  original function, and only the outermost call of a category on a thread
  is counted, so a commit that calls another commit counts once.
* ``make_stream_stats`` builds a ``StreamingQueryListener`` counting
  micro-batches, trigger time and query wall time.
* ``fold_event_log`` reads Spark's own (uncompressed) event log and folds
  jobs, stages, tasks and SQL executions into per-pass layer figures.
"""

from __future__ import annotations

import datetime
import functools
import glob
import importlib
import json
import os
import re
import sys
import threading
import time

PACKAGE = "t_mobile_data_fnt_etl_pipeline_aws_spark"

#: layer name -> (module, predicate on public function names)
_SHIMMED = {
    "sources.tables.load": ("sources.tables", lambda n: n == "load"),
    "functions.dfutil.materialized": (
        "functions.dfutil", lambda n: n == "materialized"),
    "sources.manifest_table.commit": (
        "sources.manifest_table", lambda n: n.startswith("commit_")),
    "sources.manifest_table.read": (
        "sources.manifest_table", lambda n: n.startswith("read_version")),
}


class Shims:
    """Call counts and seconds per layer, for the calls made while active."""

    def __init__(self) -> None:
        self.calls = {layer: 0 for layer in _SHIMMED}
        self.seconds = {layer: 0.0 for layer in _SHIMMED}
        self._lock = threading.Lock()
        self._depth = threading.local()
        self._restore: list[tuple[object, str, object]] = []

    def _wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            depth = getattr(self._depth, layer, 0)
            setattr(self._depth, layer, depth + 1)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                setattr(self._depth, layer, depth)
                if depth == 0:
                    dt = time.perf_counter() - t0
                    with self._lock:
                        self.calls[layer] += 1
                        self.seconds[layer] += dt

        return timed

    def install(self) -> None:
        wrapped = {}
        for layer, (mod_name, pick) in _SHIMMED.items():
            mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
            for name, fn in vars(mod).items():
                if callable(fn) and pick(name) and getattr(fn, "__module__", None) == mod.__name__:
                    wrapped[id(fn)] = (fn, self._wrap(layer, fn))
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for name, value in list(vars(mod).items()):
                hit = wrapped.get(id(value))
                if hit is not None and hit[0] is value:
                    self._restore.append((mod, name, value))
                    setattr(mod, name, hit[1])

    def uninstall(self) -> None:
        for mod, name, value in reversed(self._restore):
            setattr(mod, name, value)
        self._restore.clear()

    def snapshot(self) -> dict:
        with self._lock:
            return {"calls": dict(self.calls), "seconds": dict(self.seconds)}


def _epoch_ms(iso: str) -> float:
    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1e3


def make_stream_stats():
    """A listener keeping every streaming query's start, micro-batch
    progress and end, in epoch milliseconds (``pyspark`` is imported here,
    after the benchmark has set up the environment)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamStats(StreamingQueryListener):
        def __init__(self) -> None:
            self._started: dict[str, float] = {}
            self._ended: dict[str, float] = {}
            self._batches: list[tuple[float, float]] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event) -> None:
            with self._lock:
                self._started[str(event.runId)] = _epoch_ms(event.timestamp)

        def onQueryProgress(self, event) -> None:
            p = event.progress
            trigger = float((p.durationMs or {}).get("triggerExecution", 0))
            with self._lock:
                self._batches.append((_epoch_ms(p.timestamp), trigger))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            with self._lock:
                self._ended[str(event.runId)] = time.time() * 1e3

        def per_window(self, windows: list[tuple[float, float]]) -> list[dict]:
            """Batches, trigger time and query wall time per (start, end)
            window, by the time each batch or query started."""
            with self._lock:
                out = []
                for a, b in windows:
                    batches = [ms for t, ms in self._batches if a <= t <= b]
                    walls = [self._ended[run] - t for run, t in self._started.items()
                             if a <= t <= b and run in self._ended]
                    out.append({
                        "streaming.batches": len(batches),
                        "streaming.trigger_ms": sum(batches),
                        "streaming.query_wall_ms": sum(walls),
                    })
                return out

    return StreamStats()


#: Operator names and plan strings of nodes that run Python workers:
#: pandas/Arrow UDFs, UDTFs, mapIn*/applyIn*, Python data sources (their
#: scans print "(Python)"), and the RDD API's PythonRDD.
_PYTHON_NODE = re.compile(r"Python|Pandas|Arrow")


def _stage_is_python(stage_info: dict) -> bool:
    for rdd in stage_info.get("RDD Info", []):
        names = [rdd.get("Name", "")]
        if rdd.get("Scope"):
            names.append(json.loads(rdd["Scope"]).get("name", ""))
        if any(_PYTHON_NODE.search(n) for n in names):
            return True
    return False


def _plan_is_python(plan_info: dict) -> bool:
    stack = [plan_info]
    while stack:
        node = stack.pop()
        if _PYTHON_NODE.search(node.get("nodeName", "") + node.get("simpleString", "")):
            return True
        stack.extend(node.get("children", []))
    return False


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def fold_event_log(log_dir: str, passes: list[tuple[float, float]]) -> list[dict]:
    """Per-pass layer figures from the event log under ``log_dir``.

    ``passes`` holds each timed pass's (start, end) in epoch milliseconds;
    a job belongs to the pass its submission time falls in, a stage to the
    first job listing it, a task to its stage.
    """
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    tasks: dict[int, list[dict]] = {}
    sql_start: dict[int, float] = {}
    sql_python: set[int] = set()
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    exec_id = props.get("spark.sql.execution.id")
                    jobs[ev["Job ID"]] = {
                        "start": ev["Submission Time"],
                        "end": None,
                        "sql": int(exec_id) if exec_id else None,
                    }
                    for sid in ev["Stage IDs"]:
                        stage_job.setdefault(sid, ev["Job ID"])
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    stages[info["Stage ID"]] = {"python": _stage_is_python(info)}
                elif kind == "SparkListenerTaskEnd":
                    tasks.setdefault(ev["Stage ID"], []).append(ev.get("Task Metrics") or {})
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    sql_start[ev["executionId"]] = ev["time"]
                    if _plan_is_python(ev.get("sparkPlanInfo") or {}):
                        sql_python.add(ev["executionId"])
                elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    if _plan_is_python(ev.get("sparkPlanInfo") or {}):
                        sql_python.add(ev["executionId"])

    def pass_of(t: float) -> int | None:
        for i, (a, b) in enumerate(passes):
            if a <= t <= b:
                return i
        return None

    out = [
        {
            "spark.jobs": 0, "spark.stages": 0, "spark.tasks": 0,
            "spark.plan_ms": 0.0, "executor.run_ms": 0.0,
            "executor.cpu_ms": 0.0, "executor.gc_ms": 0.0,
            "python.offcpu_ms": 0.0, "shuffle.write_mb": 0.0,
            "shuffle.read_mb": 0.0, "shuffle.spill_mb": 0.0,
            "scan.input_mb": 0.0, "sink.output_mb": 0.0,
            "_intervals": [], "_first_job": {},
        }
        for _ in passes
    ]
    job_pass = {}
    for jid, job in jobs.items():
        p = pass_of(job["start"])
        if p is None:
            continue
        job_pass[jid] = p
        acc = out[p]
        acc["spark.jobs"] += 1
        acc["_intervals"].append((job["start"], job["end"] or job["start"]))
        if job["sql"] is not None:
            first = acc["_first_job"]
            first[job["sql"]] = min(first.get(job["sql"], job["start"]), job["start"])
    mb = 1.0 / 2**20
    for sid, stage in stages.items():
        jid = stage_job.get(sid)
        p = job_pass.get(jid)
        if p is None:
            continue
        acc = out[p]
        acc["spark.stages"] += 1
        python = stage["python"] or jobs[jid]["sql"] in sql_python
        for m in tasks.get(sid, []):
            run_ms = m.get("Executor Run Time", 0)
            cpu_ms = m.get("Executor CPU Time", 0) / 1e6
            acc["spark.tasks"] += 1
            acc["executor.run_ms"] += run_ms
            acc["executor.cpu_ms"] += cpu_ms
            acc["executor.gc_ms"] += m.get("JVM GC Time", 0)
            if python:
                acc["python.offcpu_ms"] += max(run_ms - cpu_ms, 0.0)
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            acc["shuffle.write_mb"] += sw.get("Shuffle Bytes Written", 0) * mb
            acc["shuffle.read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) * mb
            acc["shuffle.spill_mb"] += m.get("Disk Bytes Spilled", 0) * mb
            acc["scan.input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) * mb
            acc["sink.output_mb"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0) * mb
    for (a, b), acc in zip(passes, out):
        for exec_id, first in acc.pop("_first_job").items():
            if exec_id in sql_start:
                acc["spark.plan_ms"] += max(first - sql_start[exec_id], 0)
        acc["spark.driver_gap_ms"] = (b - a) - _union_ms(acc.pop("_intervals"))
    return out
