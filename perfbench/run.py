"""Benchmark of record for the engine: two workloads, end-to-end
metrics from untraced runs, per-layer metrics from traced runs.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 8 --trace 0

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics of BENCHMARK.json
with ``--trace 0``, its per-layer metrics with ``--trace 1``). See
perfbench/README.md for the workloads and what each metric means.

This file is both the launcher and the measured worker. The launcher
makes the inputs once per checkout (under ``.bench_build/perfbench``),
starts the worker as a fresh process on ``local[nproc]``, waits for it
and for every process it started, removes the run's temp files and
prints the result. ``setup_s`` runs from the worker's launch.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")

#: Scale of the TPC-H-style query inputs: the scale the registry's
#: oracle gate runs at (``full``) and the smoke scale (``tiny``).
QUERY_SF = {"full": 0.01, "tiny": 0.001}
RUN_TIMEOUT_S = 150
FIRST_RUN_TIMEOUT_S = 850
PREPARE_TIMEOUT_S = 600


def _args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=["query_mix", "ecom_etl"])
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=8.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full",
                   help="input size; tiny is for the benchmark's own tests")
    p.add_argument("--role", choices=["launcher", "worker", "prime"],
                   default="launcher", help=argparse.SUPPRESS)
    p.add_argument("--out", help=argparse.SUPPRESS)
    a = p.parse_args(argv)
    if a.role != "prime" and a.workload is None:
        p.error("--workload is required")
    return a


def _data_dir(size: str) -> str:
    # the engine derives fixture names from this directory's name; keep
    # "0.001" out of it, which selects the engine's smoke-scale fixtures
    return os.path.join(STATE, "data", f"tpch-{size}")


# --------------------------------------------------------------------
# worker: one fresh process, measured from its launch
# --------------------------------------------------------------------
def worker(a: argparse.Namespace) -> None:
    t0 = float(os.environ["PERFBENCH_T0"])
    sys.path.insert(0, ROOT)
    from spans import Recorder

    rec = Recorder()
    with rec.span("run", start=t0, workload=a.workload, seed=a.seed,
                  trace=a.trace) as root:
        with rec.span("setup", start=t0) as setup:
            with rec.span("imports"):
                from big_data_analytics_spark.queries import load_all
                from big_data_analytics_spark.session import get_spark
            with rec.span("session.get_spark"):
                spark = get_spark("perfbench")
                spark.sparkContext.setLogLevel("ERROR")
            with rec.span("session.first_job"):
                spark.range(1000).selectExpr("sum(id)").collect()
            with rec.span("session.load_all"):
                registry = load_all()
        try:
            result = _measure(a, rec, spark, registry)
        finally:
            spark.stop()
    result["metrics"]["setup_s"] = setup.seconds
    if a.trace:
        _write_trace(a, rec, root, result)
    with open(a.out, "w") as f:
        json.dump(result, f)


def _measure(a, rec, spark, registry) -> dict:
    import layers
    from spans import SparkCounters, StreamCounters
    from workloads import WORKLOADS, Run

    streams = StreamCounters()
    spark.streams.addListener(streams)
    counters = SparkCounters(spark) if a.trace else None
    tmp = os.path.join(STATE, "tmp", str(os.getpid()))
    run = Run(spark, registry, rec, counters, streams, random.Random(a.seed),
              a.seconds, _data_dir(a.size), tmp, a.size)
    e2e = WORKLOADS[a.workload](run)
    out = {"attempted": run.attempted, "failed": run.failed,
           "defects": run.defects, "metrics": e2e}
    if a.trace:
        slots = spark.sparkContext.defaultParallelism
        out["layers"] = layers.compute(a.workload, run, slots)
    return out


def _write_trace(a, rec, root, result) -> None:
    """Spans, per-layer metrics and the tracing overhead: this run's
    end-to-end values minus the median of the untraced runs recorded
    for the workload in this checkout."""
    base = _history(a.workload, a.size)
    overhead = {k: v - statistics.median(r[k] for r in base)
                for k, v in result["metrics"].items()
                if base and all(k in r for r in base)}
    os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
    path = os.path.join(STATE, "traces",
                        f"{a.workload}-seed{a.seed}-{rec.run_id}.json")
    rec.write(path, {
        "workload": a.workload, "seed": a.seed, "size": a.size,
        "end_to_end": result["metrics"], "per_layer": result["layers"],
        "untraced_runs": len(base), "tracing_overhead": overhead,
    })
    result["trace_file"] = path
    print(f"perfbench: trace {path}; root span {root.seconds:.3f} s; "
          f"overhead vs {len(base)} untraced runs: "
          + json.dumps({k: round(v, 4) for k, v in overhead.items()}),
          file=sys.stderr)


def _history(workload: str, size: str) -> list[dict]:
    path = os.path.join(STATE, "results", f"{workload}-{size}-trace0.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


# --------------------------------------------------------------------
# prime: runs every query once so the engine's on-disk fixtures exist
# --------------------------------------------------------------------
def prime(a: argparse.Namespace) -> None:
    sys.path.insert(0, ROOT)
    from big_data_analytics_spark.queries import load_all
    from big_data_analytics_spark.session import get_spark
    from workloads import COLD_ONLY, STREAMS, WARM

    spark = get_spark("perfbench-prime")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        registry = load_all()
        for name in WARM + COLD_ONLY + STREAMS:
            (registry[name].spark_fn(spark, _data_dir(a.size))
             .write.format("noop").mode("overwrite").save())
    finally:
        spark.stop()


# --------------------------------------------------------------------
# launcher
# --------------------------------------------------------------------
def _spawn(role: str, a: argparse.Namespace, extra: list[str],
           timeout_s: float) -> int:
    """Run this file in ``role`` as a fresh process group; wait for it
    and for every process it started (the Spark JVM). Returns its exit
    code."""
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(STATE, "spark-local"),
        "PYSPARK_SUBMIT_ARGS":
            "--conf spark.ui.showConsoleProgress=false pyspark-shell",
        "PERFBENCH_T0": repr(time.perf_counter()),
    })
    os.makedirs(env["SPARK_LOCAL_DIRS"], exist_ok=True)
    cmd = [sys.executable, os.path.abspath(__file__), "--role", role,
           "--size", a.size, *extra]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        print(f"perfbench: {role} timed out after {timeout_s:.0f} s",
              file=sys.stderr)
        code = -1
    finally:
        _reap(proc.pid)
    return code


def _reap(pgid: int, grace_s: float = 15.0) -> None:
    """Wait for the process group to empty; kill what is left."""
    deadline = time.perf_counter() + grace_s
    sig = 0
    while True:
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        if time.perf_counter() > deadline:
            sig = signal.SIGKILL
        time.sleep(0.1)


def _prepare(a: argparse.Namespace) -> float:
    """Make this checkout's inputs once; returns the seconds spent."""
    t = time.perf_counter()
    data = _data_dir(a.size)
    if not os.path.exists(os.path.join(data, "_DONE")):
        from fixtures import write_tables

        shutil.rmtree(data, ignore_errors=True)
        write_tables(QUERY_SF[a.size], data)
    marker = os.path.join(STATE, f"primed-{a.size}")
    if not os.path.exists(marker):
        if _spawn("prime", a, [], PREPARE_TIMEOUT_S) != 0:
            raise SystemExit("perfbench: priming the engine's fixtures failed")
        with open(marker, "w") as f:
            f.write("ok\n")
    return time.perf_counter() - t


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def launcher(a: argparse.Namespace) -> None:
    if not os.path.isdir(os.path.join(ROOT, "big_data_analytics_spark")):
        raise SystemExit("perfbench: engine package not found beside "
                         "perfbench/; run from a full checkout")
    spec = _spec()
    os.makedirs(os.path.join(STATE, "runs"), exist_ok=True)
    spent = _prepare(a)
    out = os.path.join(STATE, "runs", f"{os.getpid()}.json")
    tmp = os.path.join(STATE, "tmp")
    try:
        budget = FIRST_RUN_TIMEOUT_S if spent > 5 else RUN_TIMEOUT_S
        code = _spawn("worker", a, [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--out", out], budget - spent)
        if code != 0:
            raise SystemExit(f"perfbench: worker failed with code {code}")
        with open(out) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        if os.path.exists(out):
            os.remove(out)

    for d in result["defects"]:
        print(f"perfbench: program defect: {d}", file=sys.stderr)
    if a.trace:
        wanted, values = spec["per_layer"], result["layers"]
    else:
        wanted, values = spec["end_to_end"], result["metrics"]
        hist = os.path.join(STATE, "results",
                            f"{a.workload}-{a.size}-trace0.jsonl")
        os.makedirs(os.path.dirname(hist), exist_ok=True)
        with open(hist, "a") as f:
            f.write(json.dumps(result["metrics"]) + "\n")
    line = {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }
    print(json.dumps(line))


def main() -> None:
    a = _args()
    if a.role == "worker":
        worker(a)
    elif a.role == "prime":
        prime(a)
    else:
        launcher(a)


if __name__ == "__main__":
    main()
