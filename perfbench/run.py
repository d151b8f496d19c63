#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The workload's seeded inputs, its cube
store and Spark's scratch space live under ``.perfbench_work/`` in the
checkout and are deleted at exit. The last line of standard output is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``:
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (see README.md). The line before it records the host
(cpus, Spark version, driver memory, seed, steal %) and the sample
counts. The exit code is 0 when a result was printed, whatever the
checks found.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEMORY = "3g"

E2E_UNITS = {"setup_s": "s", "op_p50_s": "s", "work_per_s": "items/s"}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="self-test scale (tiny inputs)")
    p.add_argument(
        "--wrong-expected", action="store_true",
        help="self-test: perturb every expected result so the checks must fail",
    )
    return p.parse_args(argv)


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def _java_opts() -> str:
    """JVM flags that keep the JVM's files in the run's directory: temp
    files under TMPDIR, and no hsperfdata file (it always goes to /tmp)."""
    return f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"


def _session(work: str, cpus: int):
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(2 * cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions", _java_opts())
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    return s


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def _shutdown_jvm() -> None:
    """Stop Spark and wait for the JVM to exit (the Python workers are
    its children and exit with it). The Py4J client threads are daemons,
    so they do not keep this process alive."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()  # the gateway server exits on EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run(args, work: str) -> dict:
    from perfbench.trace import LAYER_UNITS, NullTracer, Tracer, kernel_rates, layer_report
    from perfbench.workloads import WORKLOADS, Ctx, tail

    import pyspark

    # one core stays free for the driver's Python process and the JVM's JIT
    # compiler and GC threads: the JIT stays busy all run, compiling the
    # code Spark generates for every query
    nproc = len(os.sched_getaffinity(0))
    cpus = max(1, nproc - 1)
    ctx = Ctx(spark=None, cpus=cpus, seed=args.seed, work_dir=work, tiny=args.tiny,
              wrong_expected=args.wrong_expected, tracer=NullTracer())
    steal0 = _cpu_ticks()
    wl = WORKLOADS[args.workload](ctx)
    setup = []
    for rep in range(wl.setup_reps):
        t0 = time.perf_counter()
        if ctx.spark is not None:
            ctx.spark.stop()
        ctx.spark = _session(work, cpus)
        wl.prepare(ctx, rep)
        setup.append(time.perf_counter() - t0)

    if args.trace:
        ctx.tracer = Tracer(ctx.spark, cpus)
    ctx.tracer.start()
    t_loop = time.perf_counter()
    try:
        wl.loop(ctx, args.seconds)
    finally:
        ctx.tracer.stop()
    loop_s = time.perf_counter() - t_loop
    outcome = wl.check(ctx)
    rss = _jvm_peak_rss_mb(ctx.spark)
    steal1 = _cpu_ticks()
    samples = wl.samples()
    tail_s, tail_pct = tail(samples)

    if args.trace:
        extra = dict(wl.layer)
        extra.update(kernel_rates(args.seed))
        extra.update({"op.samples": len(samples), "op.tail_s": tail_s, "op.tail_pct": tail_pct,
                      "jvm.peak_rss_mb": rss})
        values = layer_report(ctx.tracer, extra)
        units = LAYER_UNITS
    else:
        values = dict(wl.metrics(), setup_s=statistics.median(setup))
        units = E2E_UNITS
    print(json.dumps({"perfbench": {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": nproc, "spark_cores": cpus, "spark": pyspark.__version__,
        "driver_memory": DRIVER_MEMORY,
        "steal_pct": round(100.0 * (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1), 3),
        "setup_reps_s": [round(x, 3) for x in setup], "loop_s": round(loop_s, 3),
        "op_p50_s": wl.metrics()["op_p50_s"], "jvm_peak_rss_mb": round(rss, 1),
        "samples": len(samples), "tail_s": tail_s, "tail_pct": tail_pct,
        "latencies_s": [round(x, 3) for x in samples],
        "problems": outcome.problems,
    }}))
    return {
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "smart_geocubes_spark", "__init__.py")):
        print("perfbench: smart_geocubes_spark/ not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a terminated run still stops its JVM and deletes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    # Spark, its Python workers and tempfile all stay inside the checkout
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LAUNCHER_OPTS"] = _java_opts()  # the launcher JVM spark-submit starts
    try:
        result = run(args, work)
        print(json.dumps(result), flush=True)
        return 0
    finally:
        _shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(work_root)
        except OSError:  # another run still uses it
            pass


if __name__ == "__main__":
    sys.exit(main())
