"""Benchmark for database_cloner_spark.

    python3 perfbench/run.py --workload clone|analytics --seed N \\
        --seconds S --trace 0|1

Run from the root of a checkout. The program is driven from outside
through its public functions (`session`, `sources`, `registry`, `llm`,
`pipeline`, `streaming`) by one client thread, on `local[nproc]` Spark.
Inputs are generated from the seed (perfbench/inputs.py); every result is
checked against DuckDB (perfbench/checks.py). All scratch data, Spark
local dirs and the warehouse live under `.perfbench_tmp/` in the checkout
and are removed when the run ends; a traced run writes its spans to
`.perfbench_out/`.

Output: one detail line (every measurement under its own name, resources,
Spark counts, ground-truth ratios, problems), then the result line
`{"correct", "attempted", "failed", "metrics"}`: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`.
"""

from __future__ import annotations

import argparse
import functools
import importlib.util
import json
import os
import resource
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

DRIVER_MEM = "2g"
MAX_CYCLES = 50


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(tmp: str, cpus: int) -> None:
    """Sizing and scratch locations, before any JVM starts."""
    jtmp = os.path.join(tmp, "jvm")
    for d in ("spark-local", "warehouse", "py", "jvm"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(tmp, "warehouse"),
        "TMPDIR": os.path.join(tmp, "py"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={jtmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })


def setup(app: str):
    """Session set-up, timed: import the session module, start the JVM and
    the SparkSession through `session.get_spark`, and finish a first job."""
    t0 = time.perf_counter()
    from database_cloner_spark import session

    spark = session.get_spark(app)
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def stop(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)


def peak_rss_mb(spark) -> dict[str, float]:
    """Peak resident memory of this driver process and of its JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return {"driver": py_kb / 1024, "jvm": jvm_kb / 1024}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("clone", "analytics"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if importlib.util.find_spec("database_cloner_spark") is None:
        print("perfbench: database_cloner_spark is not in this checkout", file=sys.stderr)
        return 2
    tmp = os.path.join(ROOT, ".perfbench_tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        detail, result = run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps(result))
    return 0


def run(args, tmp: str):
    from perfbench import checks, inputs, report
    from perfbench.spans import Tracer, is_restored
    from perfbench.workloads import (CLONE_TABLES, CURATE_KEYS, OLAP_KEYS,
                                     AnalyticsWorkload, CloneWorkload, Ledger)

    # slowest oracle first, so the child finishes soonest after the JVM is up
    oracle_order = sorted(OLAP_KEYS + CURATE_KEYS, key=lambda k: k != "q_dedup_fuzzy")

    phases = {}
    t = time.perf_counter()
    cpus = nproc()
    parallelism = min(4, cpus)
    pin_environment(tmp, cpus)
    work = os.path.join(tmp, "work")
    tables = CLONE_TABLES if args.workload == "clone" else inputs.TABLES
    inputs.derive_namespace(args.seed, os.path.join(work, "data"), tables)
    phases["inputs"] = time.perf_counter() - t

    extra, proc = {"parallelism": parallelism}, None
    if args.workload == "analytics":
        # the DuckDB oracles run in a child process while the JVM starts
        out = os.path.join(tmp, "oracles.json")
        proc = checks.start_oracles(os.path.join(work, "data"), oracle_order, out)
        extra = {"oracles": functools.cache(lambda: checks.finish_oracles(proc, out))}

    tracer = Tracer() if args.trace else None
    if tracer:
        tracer.install()
    spark = None
    try:
        spark, setup_s = setup(f"perfbench-{args.workload}")
        ledger = Ledger()
        common = dict(spark=spark, work_dir=work, seed=args.seed, tracer=tracer, ledger=ledger)
        t = time.perf_counter()
        wl = (CloneWorkload if args.workload == "clone" else AnalyticsWorkload)(**common, **extra)
        phases["workload_init"] = time.perf_counter() - t
        t0 = time.perf_counter()
        wl.run_cycle()
        while len(wl.cycles) < MAX_CYCLES and (
                len(wl.cycles) < 2 or time.perf_counter() - t0 < args.seconds):
            wl.run_cycle()
        traced_cycles = list(range(1, len(wl.cycles)))
        untraced_cycle = None
        if tracer:
            # one more warm cycle with the wrappers removed: the overhead base
            tracer.restore()
            ledger.record("trace wrappers restored", None if is_restored() else "wrapper left installed")
            wl.tracer = None
            wl.run_cycle()
            untraced_cycle = len(wl.cycles) - 1
        phases["cycles"] = time.perf_counter() - t0
        rss = peak_rss_mb(spark)
        wl.close()
    finally:
        t = time.perf_counter()
        if spark is not None:
            stop(spark)
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        phases["stop"] = time.perf_counter() - t

    resources = {
        "nproc": cpus, "spark_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "clone_parallelism": parallelism, "driver_mem": DRIVER_MEM,
        "input_rows": report.input_rows(work, tables),
    }
    detail = report.detail(args, wl, ledger, setup_s, rss, resources, phases)
    if tracer:
        metrics = report.layer_metrics(wl, tracer, traced_cycles, untraced_cycle)
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"spans_{args.workload}_{args.seed}.json"), "w") as f:
            json.dump({"ops": report.op_accounting(wl, tracer), "spans": tracer.dump()}, f)
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (rss["driver"] + rss["jvm"], "MB"),
            "cold_cycle_s": (wl.cycle_seconds(0), "s"),
            "warm_cycle_s": (statistics.median(
                wl.cycle_seconds(c) for c in range(1, len(wl.cycles))), "s"),
        }
    result = {
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return detail, result


if __name__ == "__main__":
    sys.exit(main())
