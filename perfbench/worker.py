"""One benchmark run inside its own driver process.

Started by perfbench/run.py, which pins the environment first. Sets up
(session start, Python-worker warm-up, input generation several times),
runs the workload's calls in a closed loop until ``--seconds`` have
passed and the workload's minimum number of calls is done, checks the
outputs and prints human-readable lines followed by one JSON line.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time
import traceback

from perfbench.run import proc_children

SETUP_REPS = 3
MAX_CALL_ERRORS = 3


def jvm_peak_rss_mb() -> float:
    """VmHWM of the Spark driver JVM, this process's ``java`` child."""
    for pid, comm in proc_children(os.getpid()):
        if comm == "java":
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
    raise RuntimeError("no Spark driver JVM among this process's children")


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _identity(batches):
    yield from batches


def warm_python_workers(spark) -> None:
    """Start one Python worker per core through an Arrow UDF stage."""
    n = spark.sparkContext.defaultParallelism
    spark.range(0, 64 * n, 1, n).mapInArrow(_identity, "id long").write.format("noop").mode("overwrite").save()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--work", required=True)
    args = ap.parse_args(argv)

    import numpy
    import pyspark

    from gelos_spark.session import get_spark
    from perfbench import kernels, layers, workloads
    from perfbench.eventlog import Rollup
    from perfbench.spans import Tracer
    from perfbench.stats import median

    work = args.work
    tracer = Tracer(enabled=bool(args.trace))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
    }
    if args.trace:
        os.makedirs(f"{work}/eventlog", exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"{work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    wl = workloads.WORKLOADS[args.workload](args.seed)

    t0 = time.perf_counter()
    with tracer.span("session.start"):
        spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
    session_s = time.perf_counter() - t0
    tracer.bind(spark.sparkContext)
    try:
        t0 = time.perf_counter()
        with tracer.span("session.warm"):
            warm_python_workers(spark)
        warm_s = time.perf_counter() - t0
        ctx = workloads.Ctx(spark, tracer, args.seed, work)
        gen = []
        for rep in range(SETUP_REPS):
            ctx.inputs = f"{work}/inputs/{rep}"
            t0 = time.perf_counter()
            with tracer.span("synth.gen"):
                wl.generate(ctx, ctx.inputs)
            gen.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        with tracer.span("setup.prepare"):
            wl.prepare(ctx)
        setup_s = session_s + warm_s + median(gen) + time.perf_counter() - t0

        ops, call_errors = [], 0
        deadline = time.perf_counter() + args.seconds
        with tracer.span("workload"):
            while (len(ops) < wl.min_calls or time.perf_counter() < deadline) and call_errors < MAX_CALL_ERRORS:
                try:
                    with tracer.span("op"):
                        ops.append(wl.op(ctx, len(ops)))
                except Exception:  # a failed call is counted, the loop goes on
                    traceback.print_exc()
                    call_errors += 1
        if not ops:
            raise RuntimeError(f"every call of {args.workload} failed")
        with tracer.span("check"):
            try:
                errors = wl.check(ctx, ops)
            except Exception:
                errors = ["output check raised:\n" + traceback.format_exc()]
        e2e, lines = wl.summary(ops)
        e2e["setup_s"] = (setup_s, "s")
        peak_rss_mb = jvm_peak_rss_mb()
        kernel_metrics = kernels.measure(args.seed) if args.trace else {}
    finally:
        stop_spark(spark)

    attempted = len(ops) + call_errors + 1  # the output check is one more call
    failed = call_errors + sum(not o.ok for o in ops) + (1 if errors else 0)
    if args.trace:
        logs = os.listdir(f"{work}/eventlog")
        rollup = Rollup.from_log(f"{work}/eventlog/{logs[0]}")
        metrics = layers.per_layer(tracer.spans, rollup, kernel_metrics, ops, e2e)
        metrics["jvm.peak_rss_mb"] = (peak_rss_mb, "MB")
    else:
        metrics = e2e

    env = {k: os.environ.get(k) for k in (
        "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS", "PYTHONPATH", "OMP_NUM_THREADS")}
    print(f"# env {json.dumps(env)} pyspark={pyspark.__version__} numpy={numpy.__version__} "
          f"python={sys.version.split()[0]}")
    print(f"# {args.workload} seed={args.seed} calls={len(ops)} call_errors={call_errors} "
          f"setup: session {session_s:.3f}s warm {warm_s:.3f}s gen {[round(g, 3) for g in gen]}")
    print(f"# call seconds: {[round(o.total, 3) for o in ops]}")
    for name, value, unit, note in lines:
        print(f"# {name} = {value:.6g} {unit} ({note})")
    print(f"# peak_rss_mb = {peak_rss_mb:.1f} MB (Spark driver JVM VmHWM)")
    print(f"# failed_frac = {failed / attempted:.6g} ({failed} of {attempted} calls)")
    for o in ops[:1]:
        if o.out:
            print(f"# first call outputs: { {k: v for k, v in o.out.items() if k != 'rows'} }")
    for e in errors:
        print(f"# CHECK FAILED: {e}")
    result = {
        "correct": not errors and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v) if math.isfinite(v) else 0.0, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
