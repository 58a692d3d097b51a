"""Benchmark of epstein_browser_spark: workloads, metrics, checks, traces.

Run from the repository root:

    python3 perfbench/run.py --workload extract_batch --seed 1 --seconds 14 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 14 --trace 0

One run starts a single driver process on ``local[<cores>]``, starts the
Spark session twice, each time in a newly launched JVM (``setup_s`` is the
median start plus the workload's untimed warm-up), runs as many operations
as take about ``--seconds`` in a closed loop with one client, checks every
output outside the timed region, and prints a summary followed by one JSON
line. The gated end-to-end metric is the CPU time of a typical operation
(``op_cpu_ms``); wall-clock figures are printed beside it. ``--trace
1`` repeats the window with spans recorded and prints the per-layer
metrics instead of the end-to-end ones. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_REPS = 2  # each a cold start: ~12 s on 4 cores
E2E_UNITS = {"setup_s": "s", "op_cpu_ms": "ms"}
E2E_WALL_UNITS = {"latency_p50_ms": "ms", "throughput_per_s": "1/s"}
LAYER_UNITS = {
    "core.kernel_turns_per_s": "1/s", "udfs.batch_turns_per_s": "1/s",
    "driver.self_ms_per_op": "ms", "spark.job_ms_per_op": "ms",
    "spark.jobs_per_op": "count", "spark.tasks_per_op": "count",
    "spark.executor_cpu_s_per_op": "s", "spark.executor_run_s_per_op": "s",
    "spark.gc_s_per_op": "s", "spark.spill_bytes_per_op": "bytes",
    "spark.shuffle_write_bytes_per_op": "bytes", "spark.cpu_busy_ratio": "ratio",
    "spark.task_skew": "ratio", "trace.overhead_ms_per_op": "ms",
    "op.latency_p50_ms": "ms", "op.throughput_per_s": "1/s",
    "machine.steal_share": "ratio", "jvm.jit_cpu_ms_per_op": "ms",
}


class Ctx:
    def __init__(self, args):
        self.seed = args.seed
        self.trace = bool(args.trace)
        # a traced run measures two windows, untraced then traced, in the
        # time of one
        self.seconds = args.seconds / (2 if self.trace else 1)
        self.work = WORK
        self.cores = len(os.sched_getaffinity(0))
        with open("/proc/meminfo") as f:
            total_kb = int(f.readline().split()[1])
        # a quarter of the machine, at most 2 GiB: below the box's RAM
        self.driver_mem_mb = min(2048, total_kb // 4096)


def _warm_worker(batches):
    # defined in __main__, so Spark ships it by value to the workers
    import epstein_browser_spark.udfs  # noqa: F401

    yield from batches


def start_session(ctx):
    from epstein_browser_spark.session import get_spark

    retained = "100000"
    spark = get_spark(
        "perfbench", master=f"local[{ctx.cores}]",
        shuffle_partitions=ctx.cores,
        extra_conf={
            "spark.driver.memory": f"{ctx.driver_mem_mb}m",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # no hsperfdata file under /tmp: nothing is written outside
            # the checkout
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} "
                "-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": retained,
            "spark.ui.retainedStages": retained,
            "spark.sql.ui.retainedExecutions": retained,
        },
    )
    n = ctx.cores * 2
    df = spark.range(0, n, 1, n)
    df.mapInPandas(_warm_worker, df.schema).write.format("noop").mode(
        "overwrite").save()
    return spark


def stop_jvm() -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def measure(spark, wl, ctx, tracer):
    """Closed loop with one client over the workload's ``n_ops``."""
    from sparkstats import (
        PssSampler,
        StageWindow,
        cpu_ticks,
        jit_threads,
        job_covered_ms,
        now_ms,
        threads_cpu_s,
        tree_cpu_s,
    )

    stats = StageWindow(spark)
    lat, intervals, outputs, errors = [], [], [], []
    units = 0
    jit = jit_threads()
    t0 = time.perf_counter()

    def cpu_now():
        # (work, JIT) CPU seconds of the process tree, and the machine's
        # (stolen, busy + stolen) CPU ticks. The JVM's JIT compilation is
        # warm-up work whose amount and timing vary from run to run, and
        # the memory sampling is the benchmark's own.
        j = threads_cpu_s(jit)
        return (tree_cpu_s() - j - pss.cpu_s, j, *cpu_ticks())

    marks, ends = [], []  # at the start and end of each op
    with PssSampler() as pss:
        for i in range(wl.n_ops()):
            marks.append(cpu_now())
            tracer.request = i
            a, s = now_ms(), time.perf_counter()
            try:
                with tracer.span("op", "bench"):
                    n, out = wl.op(spark, i, tracer)
                units += n
                outputs.append(out)
            except Exception as e:  # a failed op is counted, not fatal
                traceback.print_exc()
                errors.append(f"op {i}: {type(e).__name__}: {e}")
            lat.append(time.perf_counter() - s)
            ends.append(cpu_now())
            intervals.append((a, now_ms()))
        wall = time.perf_counter() - t0
    # a process's CPU clock also runs while the hypervisor has stolen its
    # virtual CPU; take out the share of the op's CPU time that was stolen
    op_cpu_raw = [b[0] - a[0] for a, b in zip(marks, ends)]
    op_steal = [(b[2] - a[2]) / max(1, b[3] - a[3])
                for a, b in zip(marks, ends)]
    op_cpu = [c * (1 - f) for c, f in zip(op_cpu_raw, op_steal)]
    counters = stats.close()
    counters["cpu_busy_ratio"] = (ends[-1][0] - marks[0][0]) / (
        wall * ctx.cores)
    job_ms = job_covered_ms(intervals, counters.pop("job_intervals_ms"))
    return {"n_ops": len(lat), "latencies_s": lat,
            "kinds": [wl.kind(i) for i in range(len(lat))],
            "op_cpu_s": op_cpu, "op_cpu_raw_s": op_cpu_raw,
            "op_steal_share": op_steal,
            "jit_cpu_s": ends[-1][1] - marks[0][1], "jit_threads": len(jit),
            "wall_s": wall,
            "steal_share": (ends[-1][2] - marks[0][2])
            / max(1, ends[-1][3] - marks[0][3]),
            "units": units, "outputs": outputs, "errors": errors,
            "op_p50_s": statistics.median(lat), "peak_pss": pss.peak,
            "job_ms": job_ms, "spark": counters}


def typical_ms(op_s, kinds) -> float:
    """Geometric mean, over the kinds of operation, of each kind's median
    time, in ms: every query of a mix weighs alike, and one slow repeat
    (a garbage collection landing in a short query) moves nothing."""
    by_kind: dict[str, list[float]] = {}
    for k, v in zip(kinds, op_s):
        by_kind.setdefault(k, []).append(v)
    return 1e3 * math.exp(statistics.fmean(
        math.log(statistics.median(v)) for v in by_kind.values()))


def check_outputs(spark, wl, window) -> int:
    failed = len(window["errors"])
    for out in window["outputs"]:
        try:
            problems = wl.check(spark, out)
        except Exception as e:  # a check that cannot run is a failure
            traceback.print_exc()
            problems = [f"check raised {type(e).__name__}: {e}"]
        for p in problems:
            print(f"  CHECK FAILED [{wl.name}]: {p}", file=sys.stderr)
        failed += bool(problems)
    for e in window["errors"]:
        print(f"  OP FAILED [{wl.name}]: {e}", file=sys.stderr)
    return failed


def _pct(values, q):
    """q-th percentile (nearest rank) and how many samples lie beyond it."""
    v = sorted(values)
    k = min(len(v) - 1, max(0, int(round(q / 100 * len(v) + 0.5)) - 1))
    return v[k], len(v) - 1 - k


def run_workload(ctx, name) -> dict:
    import spans
    import workloads
    from sparkstats import wait_jit_idle

    wl = workloads.WORKLOADS[name](ctx)
    setups = []
    for rep in range(SETUP_REPS):
        if rep:
            stop_jvm()  # every start launches its own JVM
        t = time.perf_counter()
        spark = start_session(ctx)
        setups.append(time.perf_counter() - t)
        if rep == 0:
            # missing inputs are made in the first session only: its JVM
            # is stopped, so generation leaves no heap, JIT or worker
            # state behind in the measured one
            for c in wl.corpora():
                if not c.cached(WORK):
                    c.make(spark, WORK)
    try:
        wl.prepare(spark)  # inputs: cached, excluded from every metric
        t = time.perf_counter()
        wl.warmup(spark)
        jit_wait_s = wait_jit_idle()
        warm_s = time.perf_counter() - t
        plain = measure(spark, wl, ctx, workloads.NULL_TRACER)
        traced = None
        if ctx.trace:
            tracer = spans.Tracer()
            tracer.patch()
            try:
                traced = measure(spark, wl, ctx, tracer)
                module = wl.trace_report(spark, tracer, traced)
            finally:
                tracer.unpatch()
            probe = workloads.kernel_probe(ctx.seed)
        windows = [plain] + ([traced] if traced else [])
        t = time.perf_counter()
        attempted = sum(w["n_ops"] for w in windows)
        failed = sum(check_outputs(spark, wl, w) for w in windows)
        # ops a traced run adds for other layers, checked by the workload
        for problems in module.pop("extra_ops", []) if traced else []:
            attempted += 1
            failed += bool(problems)
            for p in problems:
                print(f"  CHECK FAILED [{name}]: {p}", file=sys.stderr)
        check_s = time.perf_counter() - t
    finally:
        wl.cleanup()
        stop_jvm()

    lat = plain["latencies_s"]
    e2e = {
        "setup_s": statistics.median(setups) + warm_s,
        "op_cpu_ms": typical_ms(plain["op_cpu_s"], plain["kinds"]),
    }
    wall = {
        "latency_p50_ms": 1e3 * statistics.median(lat),
        "throughput_per_s": plain["units"] / sum(lat),
    }
    res = {
        "workload": name, "seed": ctx.seed, "seconds": ctx.seconds,
        "cores": ctx.cores, "attempted": attempted, "failed": failed,
        "latencies_s": lat, "op_cpu_s": plain["op_cpu_s"],
        "op_cpu_raw_s": plain["op_cpu_raw_s"],
        "op_steal_share": plain["op_steal_share"],
        "jit_cpu_s": plain["jit_cpu_s"],
        "jit_threads": plain["jit_threads"],
        "steal_share": plain["steal_share"],
        "error_rate": failed / attempted, "ops": plain["n_ops"],
        "unit": wl.unit, "setup_reps_s": setups, "warmup_s": warm_s,
        "jit_wait_s": jit_wait_s,
        "check_s": check_s,
        "end_to_end": e2e, "wall": wall, "spark": plain["spark"],
        "named": {**named_metrics(name, wall, plain, wl),
                  "peak_pss_mb": (plain["peak_pss"] / 2**20, "MB")},
    }
    if traced:
        n = plain["n_ops"]
        c = plain["spark"]
        layer = {
            "driver.self_ms_per_op": (1e3 * sum(lat) - plain["job_ms"]) / n,
            "spark.job_ms_per_op": plain["job_ms"] / n,
            "spark.jobs_per_op": c["jobs"] / n,
            "spark.tasks_per_op": c["tasks"] / n,
            "spark.executor_cpu_s_per_op": c["executor_cpu_s"] / n,
            "spark.executor_run_s_per_op": c["executor_run_s"] / n,
            "spark.gc_s_per_op": c["gc_s"] / n,
            "spark.spill_bytes_per_op": c["spill_bytes"] / n,
            "spark.shuffle_write_bytes_per_op": c["shuffle_write_bytes"] / n,
            "spark.cpu_busy_ratio": c["cpu_busy_ratio"],
            "spark.task_skew": c["task_skew"],
            "trace.overhead_ms_per_op":
                typical_ms(traced["op_cpu_s"], traced["kinds"])
                - typical_ms(plain["op_cpu_s"], plain["kinds"]),
            "op.latency_p50_ms": wall["latency_p50_ms"],
            "op.throughput_per_s": wall["throughput_per_s"],
            "machine.steal_share": plain["steal_share"],
            "jvm.jit_cpu_ms_per_op": 1e3 * plain["jit_cpu_s"] / n,
            **probe,
        }
        res.update(per_layer=layer, module=module,
                   self_time_s=tracer.self_times(), spans=tracer.by_name(),
                   traced_end_to_end={
                       "op_cpu_ms": typical_ms(traced["op_cpu_s"],
                                                 traced["kinds"]),
                       "latency_p50_ms": 1e3 * traced["op_p50_s"],
                       "throughput_per_s": traced["units"]
                       / sum(traced["latencies_s"])})
        tracer.write(os.path.join(WORK, "results",
                                  f"{name}-seed{ctx.seed}-spans.jsonl"))
    return res


def named_metrics(name, wall, window, wl) -> dict:
    """The workload's wall-clock numbers under their user-facing names."""
    lat_ms = [1e3 * x for x in window["latencies_s"]]
    if name == "extract_batch":
        return {"extract_turns_per_s": (wall["throughput_per_s"], "1/s")}
    if name == "curate_incremental":
        return {"curate_s": (wl.last["curate_s"], "s"),
                "increment_s": (wl.last["increment_s"], "s")}
    if name == "browse_interactive":
        p95, beyond = _pct(lat_ms, 95)
        return {"browse_p50_ms": (statistics.median(lat_ms), "ms"),
                "browse_p95_ms": (p95, f"ms ({beyond} of {len(lat_ms)} "
                                       "samples beyond)")}
    rounds = max(1, len(lat_ms) // len(wl.QUERIES))
    return {"analytics_s": (sum(lat_ms) / 1e3 / rounds, "s")}


def print_result(res) -> None:
    w = res["workload"]
    print(f"== {w} (seed {res['seed']}, {res['cores']} cores, "
          f"{res['ops']} ops of {res['unit']})")
    for k, v in res["end_to_end"].items():
        print(f"  {k:<34} {v:14.4f} {E2E_UNITS[k]}")
    for k, v in res["wall"].items():
        print(f"  wall {k:<29} {v:14.4f} {E2E_WALL_UNITS[k]}")
    for k, (v, unit) in res["named"].items():
        print(f"  {k:<34} {v:14.4f} {unit}")
    print(f"  {'machine steal share':<34} {res['steal_share']:14.4f}")
    print(f"  {'error_rate':<34} {res['error_rate']:14.4f} "
          f"({res['failed']} of {res['attempted']})")
    print(f"  correct: {res['failed'] == 0}")
    if "per_layer" not in res:
        return
    print(f"  -- traced run: self time per layer (s), tracing overhead "
          f"{res['per_layer']['trace.overhead_ms_per_op']:.2f} ms/op")
    for k, v in sorted(res["self_time_s"].items(), key=lambda x: -x[1]):
        print(f"  self {k:<29} {v:14.4f} s")
    for k, v in res["per_layer"].items():
        print(f"  {k:<34} {v:14.4f} {LAYER_UNITS[k]}")
    for k, v in res["module"].items():
        print(f"  {k:<34} {json.dumps(v)}")


def result_line(res, trace: bool) -> dict:
    if trace:
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]}
                   for k, v in res["per_layer"].items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                   for k, v in res["end_to_end"].items()}
    return {"correct": res["failed"] == 0, "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}


def run_all(args) -> int:
    """Every workload, each in its own driver process, then a summary."""
    import workloads

    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in workloads.WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True,
                              timeout=900)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        if proc.returncode != 0 or not lines:
            print(f"{name}: exited with {proc.returncode}", file=sys.stderr)
            return 1
        one = json.loads(lines[-1])
        merged["correct"] &= one["correct"]
        merged["attempted"] += one["attempted"]
        merged["failed"] += one["failed"]
        for k, v in one["metrics"].items():
            merged["metrics"][f"{name}/{k}"] = v
    print(json.dumps(merged))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "epstein_browser_spark")):
        print(f"no epstein_browser_spark package under {ROOT}; run from the "
              "repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload == "all":
        return run_all(args)
    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{', '.join(workloads.WORKLOADS)} or all", file=sys.stderr)
        return 2

    for d in ("spark-local", "tmp", "results"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    # before the JVM starts: Python workers import the package from the
    # checkout, and every scratch file stays inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # also for the short-lived JVM spark-submit launches first
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable

    res = run_workload(Ctx(args), args.workload)
    with open(os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}"
                           f"-trace{args.trace}.json"), "w") as f:
        json.dump(res, f, indent=1, default=str)
    print_result(res)
    print(json.dumps(result_line(res, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
