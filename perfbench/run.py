#!/usr/bin/env python3
"""Closed-loop ETL benchmark for the spark-graft query registry.

Usage (from the repository root)::

    python3 perfbench/run.py --workload warehouse_x10 --seed 1 --seconds 10 --trace 0

One client process drives ``local[<cores>]`` Spark. Each query is timed as a
caller pays for it: ``queries()[key](spark, sf_dir)`` (the build) followed by
a noop-sink write (the action), with Spark's cache cleared before it. One
pass runs every key of the workload once, in an order drawn from the seed.
``--seconds`` sets how many timed passes run: as many as fill it at the
workload's nominal pass time on the reference host, at least two. The
count is fixed rather than timed so that every run samples the same point
of the JVM's warm-up, which still speeds passes up at this stage.

The run is isolated: ``TMPDIR``, ``SPARK_LOCAL_DIRS``, the warehouse and the
event log live in a run directory under ``perfbench/.work`` that is removed
afterwards, and ``PYTHONPATH`` names the repository so Python workers can
import the package from any working directory.

Phases:

1. Generate the workload's table family from the seed (cached per seed).
2. Set up three times (median reported as ``setup_s``): a fresh import of
   the package (module-level caches start empty), ``session.get_spark``,
   ``registry.all_queries``, the input check and one warm-up pass that
   fetches every key's rows with ``toPandas``. The first round counts from
   process start and so also pays interpreter and JVM start and the
   SparkContext; later rounds reuse that context.
3. Timed passes.
4. Output check, outside every timed region and without running Spark: the
   rows the last set-up pass fetched are compared with each key's DuckDB
   oracle by ``oracle.compare_frames``; for keys without an SQL oracle the
   last two set-up passes must have fetched the same rows.

With ``--trace 1`` Spark's event log (uncompressed) is on from the start,
a streaming listener is registered for the timed passes, and the timed
passes alternate between untraced and traced (timing shims installed, see
``layers.py``). Per-layer metrics come from the traced passes (event log,
shims, listener) and the untraced ones (benchmark-side timers and job
counts); ``trace.overhead_frac`` compares the two kinds of pass.

The last stdout line is the result object; the line before it is the run
record (provenance, sample counts, per-key medians), which is also appended
to ``perfbench/.work/records.jsonl`` for ``perfbench/compare.py``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PACKAGE = "t_mobile_data_fnt_etl_pipeline_aws_spark"
SETUP_ROUNDS = 3

sys.path.insert(0, HERE)
import datagen  # noqa: E402
import layers  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def _median(values):
    return statistics.median(values) if values else 0.0


class RunDir:
    """The run's private directories and the environment pointing at them."""

    def __init__(self, event_log: bool) -> None:
        self.path = os.path.join(WORK, f"run-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        self.tmp = os.path.join(self.path, "tmp")
        self.local = os.path.join(self.path, "local")
        self.eventlog = os.path.join(self.path, "eventlog")
        self.warehouse = os.path.join(self.path, "warehouse")
        for d in (self.tmp, self.local, self.eventlog, self.warehouse):
            os.makedirs(d)
        confs = {
            "spark.sql.warehouse.dir": self.warehouse,
            # no hsperfdata files under the system /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            confs.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": "file://" + self.eventlog,
            })
        os.environ.update({
            "TMPDIR": self.tmp,
            "SPARK_LOCAL_DIRS": self.local,
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p),
            "PYSPARK_SUBMIT_ARGS": " ".join(
                [f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()]
                + ["pyspark-shell"]),
        })
        tempfile.tempdir = None
        if ROOT not in sys.path:
            sys.path.insert(0, ROOT)

    def usage(self) -> dict:
        """Bytes and manifest-log files currently under the run's TMPDIR."""
        total = log_files = log_bytes = 0
        for dirpath, _, files in os.walk(self.tmp):
            in_log = os.path.basename(dirpath) == "_log"
            for f in files:
                try:
                    size = os.path.getsize(os.path.join(dirpath, f))
                except OSError:
                    continue
                total += size
                if in_log and f.endswith(".json"):
                    log_files += 1
                    log_bytes += size
        return {"bytes": total, "log_files": log_files, "log_bytes": log_bytes}

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


class Bench:
    def __init__(self, workload, seed: int, sf_dir: str, run: RunDir) -> None:
        self.wl = workload
        self.seed = seed
        self.sf_dir = sf_dir
        self.run = run
        self.spark = None
        self.queries = self.oracles = None
        self.attempted = 0
        self.failures: list[str] = []

    # -- set-up -----------------------------------------------------------
    def set_up(self) -> dict:
        """Import the package afresh, get its session and the registry."""
        for name in [m for m in sys.modules if m == PACKAGE or m.startswith(PACKAGE + ".")]:
            del sys.modules[name]
        t0 = time.perf_counter()
        session = importlib.import_module(f"{PACKAGE}.session")
        self.spark = session.get_spark("perfbench")
        t1 = time.perf_counter()
        registry = importlib.import_module(f"{PACKAGE}.registry")
        self.queries = registry.all_queries()
        self.oracles = registry.all_oracles()
        t2 = time.perf_counter()
        missing = [k for k in self.wl.keys if k not in self.queries]
        if missing:
            raise SystemExit(f"workload keys not registered: {missing}")
        sizes = datagen.describe(self.sf_dir)
        want = datagen.BASE_ROWS[self.wl.base]
        for name in ("orders", "lineitem", "events", "documents", "embeddings"):
            if sizes[name]["rows"] != want[name] * self.wl.scale:
                raise SystemExit(f"generated {name} has {sizes[name]['rows']} rows")
        return {"session.get_spark_s": t1 - t0, "registry.all_queries_s": t2 - t1}

    def stop(self) -> None:
        """Stop Spark and wait for the JVM it launched to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # -- one query / one pass -------------------------------------------
    def clear_cache(self) -> None:
        self.spark.catalog.clearCache()
        for rdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)

    def timed_query(self, key: str, tag: str, collect: bool) -> dict | None:
        """Build and run one key; ``collect`` fetches its rows with
        ``toPandas`` (kept under ``output``) instead of the noop sink."""
        sc = self.spark.sparkContext
        self.clear_cache()
        self.attempted += 1
        try:
            sc.setJobGroup(f"{tag}:{key}/build", key)
            t0 = time.perf_counter()
            df = self.queries[key](self.spark, self.sf_dir)
            t1 = time.perf_counter()
            sc.setJobGroup(f"{tag}:{key}/action", key)
            if collect:
                output = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        except Exception as exc:  # a failing key is counted, the run goes on
            self.failures.append(f"{key}: {type(exc).__name__}: {exc}"[:500])
            return None
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        status = sc.statusTracker()
        # RDDs the query left persisted, read before the next clear
        infos = sc._jsc.sc().getRDDStorageInfo()
        result = {
            "build_s": t1 - t0,
            "action_s": t2 - t1,
            "build_jobs": len(status.getJobIdsForGroup(f"{tag}:{key}/build")),
            "action_jobs": len(status.getJobIdsForGroup(f"{tag}:{key}/action")),
            "rdds_left": len(infos),
            "mb_left": sum(i.memSize() + i.diskSize() for i in infos) / 2**20,
        }
        if collect:
            result["output"] = output
        return result

    def run_pass(self, pass_no: int, tag: str, collect: bool = False) -> dict:
        import numpy as np

        rng = np.random.default_rng([self.seed, pass_no])
        order = [self.wl.keys[i] for i in rng.permutation(len(self.wl.keys))]
        before = self.run.usage()
        start_ms = time.time() * 1e3
        t0 = time.perf_counter()
        queries = {key: self.timed_query(key, f"{tag}{pass_no}", collect) for key in order}
        wall = time.perf_counter() - t0
        end_ms = time.time() * 1e3
        after = self.run.usage()
        return {
            "wall_s": wall,
            "epoch_ms": (start_ms, end_ms),
            "queries": queries,
            "disk": {k: after[k] - before[k] for k in after},
        }

    # -- output check -----------------------------------------------------
    def check_outputs(self, earlier: dict, last: dict) -> dict:
        """Compare the outputs two set-up passes fetched: a key with an SQL
        oracle must match DuckDB on the same inputs, a key without one must
        give the same rows both times. Runs no Spark job."""
        oracle = importlib.import_module(f"{PACKAGE}.oracle")
        con = oracle.duck_connect(self.sf_dir)
        results = {}
        try:
            for key in sorted(self.wl.keys):
                if earlier[key] is None or last[key] is None:
                    results[key] = "raised"  # already counted as failed
                    continue
                got = last[key]["output"]
                try:
                    if key in self.oracles:
                        diff = oracle.compare_frames(got, con.execute(self.oracles[key]).df())
                    else:
                        same = oracle.canonicalize(got) == oracle.canonicalize(
                            earlier[key]["output"])
                        diff = None if same else "rows differ between two runs"
                except Exception as exc:  # counted as a failed check
                    diff = f"{type(exc).__name__}: {exc}"[:500]
                results[key] = "ok" if diff is None else diff
                if diff is not None:
                    self.failures.append(f"{key}: {diff}")
        finally:
            con.close()
        return results


def _traced_pass(i: int) -> bool:
    """Traced passes in an ABBA pattern, so warm-up drift cancels."""
    return i % 4 in (1, 2)


def measure(bench: Bench, seconds: float, first_pass: int, trace: bool):
    """The timed passes: as many as fill ``seconds`` at the workload's
    nominal pass time, at least two. Returns (untraced, traced, layer
    stats); untraced and traced passes alternate only when tracing."""
    n = max(2, round(seconds / bench.wl.nominal_pass_s))
    shims = layers.Shims() if trace else None
    stream = None
    if trace:
        stream = layers.make_stream_stats()
        bench.spark.streams.addListener(stream)
    untraced, traced, shim_deltas = [], [], []
    for i in range(n):
        if trace and _traced_pass(i):
            shims.install()
            before = shims.snapshot()
            traced.append(bench.run_pass(first_pass + i, "t"))
            after = shims.snapshot()
            shims.uninstall()
            shim_deltas.append({
                f"{layer}_{kind}": after[kind][layer] - before[kind][layer]
                for kind in ("calls", "seconds") for layer in after[kind]
            })
        else:
            untraced.append(bench.run_pass(first_pass + i, "m"))
    stats = None
    if trace:
        time.sleep(0.5)  # listener events arrive asynchronously
        bench.spark.streams.removeListener(stream)
        stats = {"shims": shim_deltas, "stream": stream}
    return untraced, traced, stats


def summarise_untraced(passes: list[dict], keys) -> tuple[dict, dict, dict]:
    """(end-to-end metrics, untraced per-layer metrics, per-key medians)."""
    per_key = {k: [] for k in keys}
    fields = ("build_s", "action_s", "build_jobs", "action_jobs", "rdds_left", "mb_left")
    sums = {f: [] for f in fields}
    for p in passes:
        done = [q for q in p["queries"].values() if q is not None]
        for f in fields:
            sums[f].append(sum(q[f] for q in done))
        for k, q in p["queries"].items():
            if q is not None:
                per_key[k].append(q["build_s"] + q["action_s"])
    key_medians = {k: _median(v) for k, v in per_key.items() if v}
    geomean = math.exp(statistics.fmean(math.log(v) for v in key_medians.values())) \
        if key_medians else 0.0
    e2e = {
        "pass_s": _median([p["wall_s"] for p in passes]),
        "query_geomean_s": geomean,
    }
    mb = 1.0 / 2**20
    per_layer = {
        "operators.build_s": _median(sums["build_s"]),
        "operators.build_jobs": _median(sums["build_jobs"]),
        "spark.action_s": _median(sums["action_s"]),
        "spark.action_jobs": _median(sums["action_jobs"]),
        "cache.rdds_left": _median(sums["rdds_left"]),
        "cache.mb_left": _median(sums["mb_left"]),
        "sources.manifest_table.log_files": _median([p["disk"]["log_files"] for p in passes]),
        "sources.manifest_table.log_mb": _median([p["disk"]["log_bytes"] * mb for p in passes]),
        "disk_mb_per_pass": _median([p["disk"]["bytes"] * mb for p in passes]),
    }
    return e2e, per_layer, key_medians


def summarise_traced(bench: Bench, traced: list[dict], stats: dict) -> dict:
    """Per-layer metrics of the traced passes: event log, shims, listener.
    Stops Spark first, which closes the event log."""
    bench.spark.stop()
    bench.spark = None
    windows = [p["epoch_ms"] for p in traced]
    rows = layers.fold_event_log(bench.run.eventlog, windows)
    for row, shim, stream in zip(rows, stats["shims"], stats["stream"].per_window(windows)):
        row.update(shim)
        row.update(stream)
    out = {k: _median([r[k] for r in rows]) for k in rows[0]}
    out.pop("sources.manifest_table.read_calls")
    return {k.replace("_seconds", "_s"): v for k, v in out.items()}


def _provenance(bench: Bench, args) -> dict:
    sc = bench.spark.sparkContext
    commit = None
    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": list(os.getloadavg()),
        "commit": commit,
        "source_digest": _source_digest(),
        "tables": datagen.describe(bench.sf_dir),
    }


def _source_digest() -> str:
    """Hash of the package sources, for checkouts that are not git repos."""
    import hashlib

    h = hashlib.sha256()
    pkg = os.path.join(ROOT, PACKAGE)
    for dirpath, dirs, files in os.walk(pkg):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                h.update(os.path.relpath(path, pkg).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def main(argv=None) -> int:
    proc_t0 = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="sf0.001 inputs and two set-up rounds (self-test only)")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    spec = _spec()
    wl = WORKLOADS[args.workload]
    if args.smoke:
        from dataclasses import replace

        wl = replace(wl, base="sf0.001")
    rounds = 2 if args.smoke else SETUP_ROUNDS

    run = RunDir(event_log=bool(args.trace))
    bench = None
    try:
        gen_t0 = time.perf_counter()
        sf_dir = datagen.ensure_family(os.path.join(WORK, "data"), wl.base, wl.scale, args.seed)
        gen_s = time.perf_counter() - gen_t0
        _log(f"inputs ready in {gen_s:.2f} s: {sf_dir}")
        bench = Bench(wl, args.seed, sf_dir, run)

        setup, setup_layers, fetched = [], [], []
        for r in range(rounds):
            t0 = time.perf_counter()
            setup_layers.append(bench.set_up())
            fetched.append(bench.run_pass(r, "s", collect=True)["queries"])
            # round 1 counts from process start, generation excluded
            setup.append(time.perf_counter() - (proc_t0 + gen_s if r == 0 else t0))
            _log(f"set-up round {r + 1}: {setup[-1]:.2f} s")

        untraced, traced, stats = measure(bench, args.seconds, rounds, bool(args.trace))
        e2e, per_layer, key_medians = summarise_untraced(untraced, wl.keys)
        e2e["setup_s"] = _median(setup)
        _log(f"{len(untraced)} untraced and {len(traced)} traced passes: {e2e}")
        record = _provenance(bench, args)
        checks = bench.check_outputs(fetched[-2], fetched[-1])
        del fetched
        _log(f"output check: {checks}")
        if args.trace:
            per_layer["session.get_spark_s"] = setup_layers[0]["session.get_spark_s"]
            per_layer["registry.all_queries_s"] = _median(
                [x["registry.all_queries_s"] for x in setup_layers])
            per_layer.update(summarise_traced(bench, traced, stats))
            per_layer["trace.overhead_frac"] = (
                _median([p["wall_s"] for p in traced]) / e2e["pass_s"] - 1.0)
    finally:
        if bench is not None:
            bench.stop()
        run.remove()

    record.update({
        "generate_s": gen_s,
        "setup_rounds_s": setup,
        "passes": len(untraced),
        "traced_passes": len(traced),
        "pass_walls_s": [p["wall_s"] for p in untraced],
        "key_median_s": key_medians,
        "checks": checks,
        "failures": bench.failures,
    })
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = per_layer if args.trace else e2e
    result = {
        "correct": not bench.failures,
        "attempted": bench.attempted,
        "failed": len(bench.failures),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in declared},
    }
    record["result"] = result
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "records.jsonl"), "a", encoding="utf-8") as fh:
        fh.write(json.dumps(record) + "\n")
    print(json.dumps({"record": record}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
