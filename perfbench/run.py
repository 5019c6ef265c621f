"""Closed-loop benchmark of the engine: one client, one Spark session at
local[nproc] with an 8g heap, one operation at a time.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (pinned in ``workloads.py``): ``medallion_sf0.01`` and
``iterative_board``. Run from the repository root; all
inputs, Spark's local directories and pipeline outputs live under
``.bench_build/perfbench/``. ``--smoke`` swaps every input for sf0.001.

A run:
1. times two host canaries (single-core, and one process per core) and
   builds or re-verifies the generated inputs (``inputs_s``); from the
   session start to the end of the last pass it also records the share
   of CPU time the hypervisor stole (``/proc/stat``), which slows every
   timing;
2. starts the session and makes one untimed warm-up pass whose outputs
   feed the correctness check (``setup_s`` covers both);
3. checks those outputs against DuckDB (untimed), then runs the
   workload's settling passes, also untimed, past the steepest part of
   the JIT warm-up;
4. ``--trace 0``: times as many whole passes as a typical pass fits in
   ``--seconds``, at least three, and prints the end-to-end metrics.
   ``--trace 1``: runs four passes alternating untraced and traced, and
   prints the per-layer counters of the traced ones plus the tracing
   overhead.

The last stdout line is the JSON record
``{"correct", "attempted", "failed", "metrics"}``; the line before it
carries the host canaries and the names of any failed operations.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import tempfile
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(REPO, ".bench_build", "perfbench")
ENGINE_FILES = ("nyc_taxi_data_engineering_spark/__init__.py", "tools/oracle_check.py")
CANARY_LOOP = 2_000_000
# Timed passes per run, at least, so that one slow pass cannot move the median.
MIN_PASSES = 3

def _canary_loop(_: int = 0) -> float:
    t0 = time.perf_counter()
    n = 0
    for i in range(CANARY_LOOP):
        n += i
    return time.perf_counter() - t0


def host_canaries(procs: int) -> tuple[float, float]:
    """Single-core loop (best of 3) and the same loop in ``procs``
    concurrent processes (total wall). Recorded, never gated on."""
    from multiprocessing import get_context

    one = min(_canary_loop() for _ in range(3))
    pool = get_context("fork").Pool(procs)
    try:
        t0 = time.perf_counter()
        pool.map(_canary_loop, range(procs))
        many = time.perf_counter() - t0
    finally:
        pool.close()
        pool.join()
    return one, many


def _cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far: time this virtual
    machine was ready to run but the hypervisor ran something else."""
    with open("/proc/stat") as fh:
        ticks = [int(v) for v in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def start_session(cores: int):
    """A session from the engine's ``get_spark``; temporary files stay in WORK."""
    from workloads import HEAP

    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        # every JVM, Spark's launcher included: temp files in WORK and no
        # hsperfdata file under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
    })
    tempfile.tempdir = None

    from nyc_taxi_data_engineering_spark.session import get_spark

    return get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, close the gateway and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def geomean(values: list[float]) -> float:
    # a skipped pipeline stage reads 0 s; the run is then incorrect anyway
    return math.exp(statistics.fmean(math.log(max(v, 1e-6)) for v in values))


def end_to_end(passes, setup_s: float, ok_frac: float) -> dict[str, float]:
    ops = sorted(passes[0].op_s)
    return {
        "setup_s": setup_s,
        "pass_s": statistics.median(p.wall_s for p in passes),
        "op_geomean_s": geomean([statistics.median(p.op_s[o] for p in passes) for o in ops]),
        "ok_frac": ok_frac,
    }


def per_layer(names, workload, traced, untraced, cores: int, extra: dict[str, float]) -> dict[str, float]:
    from workloads import median_passes

    m = {k: 0.0 for k in names}
    m.update({k: v for k, v in median_passes(traced).items() if k in m})
    wall = statistics.median(p.wall_s for p in traced)
    m["spark.cpu_util"] = m["spark.executor_cpu_s"] / (wall * cores)
    if workload.kind == "pipeline":
        m["plans.validate_scan_amp"] = (
            statistics.median(p.layers.get("plans.validate_input_rows", 0.0) for p in traced)
            / extra["raw_rows"]
        )
    m["trace.overhead_frac"] = wall / statistics.median(p.wall_s for p in untraced) - 1.0
    m.update({k: v for k, v in extra.items() if k in m})
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="sf0.001 inputs for every workload")
    args = ap.parse_args(argv)

    missing = [f for f in ENGINE_FILES if not os.path.isfile(os.path.join(REPO, f))]
    if missing:
        print(f"perfbench: engine sources not found under {REPO}: {missing}", file=sys.stderr)
        return 2
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)  # the metric names and units
    sys.path[:0] = [HERE, REPO]
    import datagen
    from workloads import DATA_SEED, SMOKE_SF, STAGES, WORKLOADS, Board, Medallion

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    sf = SMOKE_SF if args.smoke else workload.sf
    cores = len(os.sched_getaffinity(0))

    canary_1c, canary_mc = host_canaries(cores)
    tables = workload.tables or datagen.TABLES
    sf_dir = os.path.join(WORK, "data", f"sf{sf}-" + ("all" if tables == datagen.TABLES else "+".join(tables)))
    t0 = time.perf_counter()
    datagen.ensure(sf_dir, sf, DATA_SEED, tables)
    inputs_s = time.perf_counter() - t0

    steal0 = _cpu_steal()
    t_setup = time.perf_counter()
    spark = start_session(cores)
    session_start_s = time.perf_counter() - t_setup
    try:
        if workload.kind == "pipeline":
            runner = Medallion(spark, sf_dir, os.path.join(WORK, "out", workload.name), args.seed)
        else:
            runner = Board(spark, sf_dir, workload.queries, args.seed)
        failures = runner.warmup()
        setup_s = time.perf_counter() - t_setup
        t_verify = time.perf_counter()
        n_checks, verify_failures = runner.verify()
        verify_s = time.perf_counter() - t_verify
        failures += verify_failures
        settle = [runner.run_pass() for _ in range(workload.settle)]
        attempted = len(workload.queries or STAGES) + n_checks

        untraced, traced = [], []
        if args.trace:
            from tracing import SparkCounters, Wrappers

            counters, wrappers = SparkCounters(spark), Wrappers()
            for traced_pass in (False, True, False, True):
                if traced_pass:
                    wrappers.install()
                    compiles = counters.codegen_compiles()
                    try:
                        traced.append(runner.run_pass(counters, wrappers))
                    finally:
                        wrappers.remove()
                    traced[-1].layers["codegen.compiles"] = counters.codegen_compiles() - compiles
                else:
                    untraced.append(runner.run_pass())
        else:
            for _ in range(max(MIN_PASSES, round(args.seconds / workload.pass_s))):
                untraced.append(runner.run_pass())
        for p in settle + untraced + traced:
            attempted += len(p.op_s)
            failures += p.failed
        rss_mb = _vm_hwm_mb(spark.sparkContext._jvm.ProcessHandle.current().pid()) + _vm_hwm_mb("self")
        steal1 = _cpu_steal()
        steal_frac = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    finally:
        stop_session(spark)

    failed = len(failures)
    if args.trace:
        extra = {
            "raw_rows": datagen.sizes(sf)["lineitem"],
            "session.start_s": session_start_s,
            "failed_frac": failed / attempted,
            "mem.peak_rss_mb": rss_mb,
            "inputs_s": inputs_s,
            "host.canary_1c_s": canary_1c,
            "host.canary_mc_s": canary_mc,
            "host.steal_frac": steal_frac,
        }
        units = spec["per_layer"]
        metrics = per_layer([u["name"] for u in units], workload, traced, untraced, cores, extra)
    else:
        metrics = end_to_end(untraced, setup_s, 1.0 - failed / attempted)
        units = spec["end_to_end"]
    print(json.dumps({
        "workload": workload.name, "sf": sf, "cores": cores, "seed": args.seed,
        "passes": len(settle) + len(untraced) + len(traced), "inputs_s": inputs_s,
        "session_start_s": session_start_s, "verify_s": verify_s,
        "run_s": time.perf_counter() - T_START,
        "host_canary_1c_s": canary_1c, "host_canary_mc_s": canary_mc, "host_steal_frac": steal_frac,
        "pass_walls": [p.wall_s for p in settle + untraced + traced],
        "pass_ops": [p.op_s for p in settle + untraced + traced],
        "op_s": {o: statistics.median(p.op_s[o] for p in untraced) for o in sorted(untraced[0].op_s)},
        "failures": failures,
    }))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {u["name"]: {"value": metrics[u["name"]], "unit": u["unit"]} for u in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
