"""The engine's benchmark: one command, two workloads.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. Workloads (see
``workloads.py``): ``llm-pipeline`` runs registered queries through
``operators.QUERIES`` and materializes each with the ``noop`` sink;
``repl-users`` drives scripted sessions through ``Repl.handle_line``.
Load shape: one process, one client, closed loop (the next query or
statement is sent when the previous one returns), on a
``local[<cores>]`` session built by the engine's ``get_spark``.

A run:

1. set-up: the Spark session (which launches the JVM),
   ``operators.load_all()``, then input generation from the seed and
   staging, repeated ``SETUP_ROUNDS`` times, then one untimed warm-up
   pass. ``setup_s`` is the cold session start plus ``load_all`` plus
   the median staging round plus the warm-up pass;
2. the output check, outside the timed passes: every query of the
   warm-up pass is hash-compared with its DuckDB twin on the same
   inputs; REPL output lines and read-back rows are checked as they
   run;
3. closed-loop passes within ``--seconds``: no pass starts that the
   median pass so far says would end after the window, but the
   workload's ``min_passes`` always run.

With ``--trace 0`` the last line of stdout is a JSON object with the
end-to-end metrics: CPU time of this process and its descendants per
pass and per statement, scaled to a reference job timed in the same
run (``reference_cpu_s``), set-up wall time and peak memory. The
report above it gives the unscaled values and the same reductions in
wall time. With ``--trace 1``
traced and untraced passes alternate and it carries the per-layer
metrics, after a per-layer table. Spans are written to
``.perfbench_out/``. Inputs, Spark local dirs, temp files and engine
staging all live under ``.perfbench_work/``, which is emptied before
and removed after the run, so every run starts from the same on-disk
state.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import resource
import shlex
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
SETUP_ROUNDS = 3
#: Size of the reference job, and the CPU seconds it is scaled to.
REF_ROWS = 200_000
REF_NOMINAL_S = 1.0
#: Reference jobs run right before the timed passes and right after
#: (one run varies by up to a fifth around the median).
REF_RUNS = 6
DRIVER_MEMORY = "1g"


def _cores() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def _isolate_environment() -> None:
    """Point everything Spark, Python and the engine stage into the
    work directory; must run before the JVM starts."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    submit = [
        # C1 only: with the default tiered JIT the passes keep getting
        # faster for about 70 s after the warm-up, longer than a run can
        # afford, so timings would depend on how far the JIT had got.
        "--driver-java-options", f"-XX:TieredStopAtLevel=1 -Djava.io.tmpdir={tmp}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
        # Keep every job, stage and SQL execution of a run readable.
        "--conf", "spark.sql.ui.retainedExecutions=100000",
        "--conf", "spark.ui.retainedJobs=100000",
        "--conf", "spark.ui.retainedStages=100000",
        "pyspark-shell",
    ]
    python_path = os.environ.get("PYTHONPATH")
    os.environ.update({
        "PYTHONPATH": ROOT + (os.pathsep + python_path if python_path else ""),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": " ".join(shlex.quote(a) for a in submit),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_GRAFT_CPUS": str(_cores()),
        "TMPDIR": tmp,
        "TZ": "UTC",
    })
    time.tzset()
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)


def _redirect_engine_staging() -> None:
    from sql_database_engine_spark import scratch
    from sql_database_engine_spark.sources import bucketed

    scratch.SCRATCH_ROOT = os.path.join(WORK, "scratch")
    bucketed.WAREHOUSE = os.path.join(WORK, "warehouse", "bucketed")


def _stop_jvm() -> None:
    """Stop the Spark context and the driver JVM this run launched, and
    wait for the JVM to exit (its Python workers exit with it)."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def _cpu_ticks() -> list[int]:
    """Host-wide CPU time counters (user, nice, system, idle, iowait,
    irq, softirq, steal, ...) from ``/proc/stat``."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of non-idle CPU time the hypervisor gave to other guests
    (steal) between two ``_cpu_ticks()`` readings. It shows one kind of
    contention from other tenants of the host; contention for memory
    bandwidth or caches does not show here."""
    d = [b - a for a, b in zip(before, after)]
    busy = sum(d) - d[3] - d[4]
    return d[7] / busy if len(d) > 7 and busy > 0 else 0.0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus the driver JVM."""
    py_kib = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{jvm_pid}/status") as f:
        jvm_kib = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (py_kib + jvm_kib) / 1024.0


def reference_cpu_s(spark) -> float:
    """CPU seconds of a fixed PySpark job that runs no engine code: a
    Python map over ``REF_ROWS`` numbers in Python workers, scheduled
    by the driver JVM, like the engine's own jobs. The host's speed
    drifts by up to two times within minutes, without steal; this job
    slows and speeds up with it."""
    from workloads import tree_cpu_s

    c = tree_cpu_s()
    (spark.sparkContext.parallelize(range(REF_ROWS), 4)
     .map(lambda x: (x * 31 + 7) % 1009).sum())
    return tree_cpu_s() - c


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (q in 0..100)."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def geomean(values) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def _reduce(bench, untraced: list[dict], clock: str) -> tuple[dict, dict]:
    """The pass and statement metrics over the untraced passes, in
    ``clock`` (``"cpu_s"`` or ``"s"`` for wall time), keyed by the CPU
    metric names; and the sample count of each."""
    lat = bench.latencies(untraced, clock)
    ms = {k: [x * 1e3 for x in lat[k]] for k in ("select", "exit", "open")}
    values = {
        "pass_cpu_s": statistics.median(p[clock] for p in untraced),
        "query_cpu_geomean_s": geomean(lat["per_query"]),
        "select_cpu_ms.p50": percentile(ms["select"], 50),
        "select_cpu_ms.p90": percentile(ms["select"], 90),
        "exit_cpu_ms.p50": percentile(ms["exit"], 50),
        "open_cpu_ms.p50": percentile(ms["open"], 50),
    }
    return values, {k: len(v) for k, v in lat.items()}


def run(workload_name: str, seed: int, seconds: float, traced: bool) -> dict:
    from spans import Tracer
    from workloads import END_TO_END, WALL, WORKLOADS, tree_cpu_s

    from sql_database_engine_spark import catalog, operators, session

    tracer = Tracer()
    bench = WORKLOADS[workload_name](seed=seed, cores=_cores())
    # Wrapped before anything imports sources.bucketed or the operator
    # modules, which bind load_table at import time.
    tracer.wrap(catalog, "load_table", "catalog.load_table", **bench.job_counter_hooks())
    _redirect_engine_staging()
    if traced:
        bench.install_trace(tracer)

    t0 = time.perf_counter()
    spark = session.get_spark("perfbench", cpus=_cores())
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    operators.load_all()
    cold = {"session.get_spark": t1 - t0, "operators.load_all": time.perf_counter() - t1}
    staging = []
    for k in range(SETUP_ROUNDS):
        t = time.perf_counter()
        bench.stage(spark, os.path.join(WORK, f"round{k}"))
        staging.append(time.perf_counter() - t)
    t = time.perf_counter()
    bench.warm_up()
    warmup_s = time.perf_counter() - t
    bench.check()

    if traced:
        bench.bind(spark)
    reference_cpu_s(spark)  # its first run starts the Python workers
    refs = [reference_cpu_s(spark) for _ in range(REF_RUNS)]
    rng = random.Random(seed)
    passes = []
    ticks = _cpu_ticks()
    start = time.perf_counter()
    while True:
        n_traced = sum(p["traced"] for p in passes)
        enough = (len(passes) >= bench.min_passes if not traced
                  else n_traced >= 2 and len(passes) - n_traced >= 1)
        # Start no pass that the typical pass so far says would end
        # after the window.
        typical = statistics.median(p["s"] for p in passes) if passes else 0.0
        if enough and time.perf_counter() - start + typical > seconds:
            break
        tracer.enabled = traced and len(passes) % 2 == 0
        mark = tracer.mark()
        c = tree_cpu_s()
        t = time.perf_counter()
        with tracer.span("bench.loop"):
            ops = bench.one_pass(rng, tracer)
        wall = time.perf_counter() - t
        passes.append({"traced": tracer.enabled, "s": wall, "cpu_s": tree_cpu_s() - c,
                       "ops": ops,
                       "self": tracer.self_times(mark) if tracer.enabled else {},
                       "jobs": tracer.totals(mark, key="jobs") if tracer.enabled else {},
                       "counts": tracer.counts(mark) if tracer.enabled else {}})
        tracer.enabled = False
    measure_s = time.perf_counter() - start
    steal = steal_share(ticks, _cpu_ticks())
    refs += [reference_cpu_s(spark) for _ in range(REF_RUNS)]

    rss = peak_rss_mb(spark)
    spark.stop()
    tracer.unwrap_all()

    if traced:
        tracer.dump(os.path.join(OUT, f"spans-{workload_name}-seed{seed}.json"))
    untraced = [p for p in passes if not p["traced"]]
    setup_s = sum(cold.values()) + statistics.median(staging) + warmup_s
    raw, samples = _reduce(bench, untraced, "cpu_s")
    ref_s = statistics.median(refs)
    values = {k: v * REF_NOMINAL_S / ref_s for k, v in raw.items()}
    values.update(setup_s=setup_s, peak_rss_mb=rss)
    wall, _ = _reduce(bench, untraced, "s")
    result = {
        "cold": cold, "staging": staging, "warmup_s": warmup_s, "measure_s": measure_s,
        "passes": len(passes), "steal": steal, "ref_s": ref_s, "refs": refs,
        "raw": {k: (v, END_TO_END[k]) for k, v in raw.items()},
        "metrics": {k: (values[k], unit) for k, unit in END_TO_END.items()},
        "wall": {WALL[k]: (v, END_TO_END[k]) for k, v in wall.items()},
        "pass_walls": [{"wall": p["s"], "traced": p["traced"]} for p in passes],
        "samples": samples,
        "attempted": bench.attempted, "failed": bench.failed,
        "failures": bench.failures,
    }
    if traced:
        result["layers"] = bench.layer_metrics(passes, cold)
        result["nondeterministic"] = bench.nondeterministic
    return result


def _print_report(name: str, result: dict, traced: bool) -> None:
    print(f"# workload {name}: {result['passes']} passes in "
          f"{result['measure_s']:.1f} s; set-up: session "
          f"{result['cold']['session.get_spark']:.2f} s, load_all "
          f"{result['cold']['operators.load_all']:.2f} s, staging "
          + ", ".join(f"{r:.2f}" for r in result["staging"])
          + f" s, warm-up {result['warmup_s']:.2f} s")
    for metric, (value, unit) in result["metrics"].items():
        print(f"#   {metric:<22} {value:>12.4f} {unit}")
    print(f"#   reference job: median {result['ref_s']:.4f} s CPU of "
          + ", ".join(f"{r:.2f}" for r in result["refs"])
          + f"; the CPU metrics above are scaled by {REF_NOMINAL_S:g} s / that; unscaled:")
    for metric, (value, unit) in result["raw"].items():
        print(f"#   {metric:<22} {value:>12.4f} {unit}")
    print("#   the same in wall time (not gated: it moves with host steal):")
    for metric, (value, unit) in result["wall"].items():
        print(f"#   {metric:<22} {value:>12.4f} {unit}")
    print(f"#   host CPU steal during the passes: {result['steal']:.1%} of busy time")
    print("#   pass walls: " + ", ".join(
        f"{p['wall']:.2f}{'*' if p['traced'] else ''}" for p in result["pass_walls"]) + " s")
    print("#   samples: " + ", ".join(f"{k}={v}" for k, v in result["samples"].items()))
    print(f"#   ops failed/attempted: {result['failed']}/{result['attempted']}")
    for line in result["failures"][:20]:
        print(f"#   FAILED {line}")
    if traced:
        print(f"# per-layer (mean per traced pass) for {name}:")
        for metric, (value, unit) in result["layers"].items():
            print(f"#   {metric:<40} {value:>16.4f} {unit}")
        for line in result["nondeterministic"]:
            print(f"#   counters differ between traced passes: {line}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "sql_database_engine_spark")):
        print("perfbench: run from a checkout that holds the engine "
              "package sql_database_engine_spark/", file=sys.stderr)
        return 2
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {', '.join(WORKLOADS)}", file=sys.stderr)
        return 2

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(OUT, exist_ok=True)
    _isolate_environment()
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        _stop_jvm()
        shutil.rmtree(WORK, ignore_errors=True)

    traced = bool(args.trace)
    _print_report(args.workload, result, traced)
    chosen = result["layers"] if traced else result["metrics"]
    line = {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
