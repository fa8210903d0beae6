#!/usr/bin/env python3
"""The repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The run generates its inputs from the
seed, starts a local Spark session with one core per CPU, warms up, runs
the workload for ``--seconds``, verifies every output, and prints as its
last line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end set; with
``--trace 1`` they are the per-layer set, from spans recorded around calls
into the package and from Spark's event log. The line before it is a
human-readable report with every figure the run computed. All files the
run writes live under ``perfbench/.work/`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

DRIVER_MEMORY = "4g"

END_TO_END = {  # name -> unit
    "setup_s": "s", "wall_s": "s", "op_p50_s": "s",
}
PER_LAYER = {
    "session.start_s": "s", "driver.busy_s": "s", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.input_bytes": "bytes", "storage_tx.merge_s": "s", "storage_tx.bytes_written": "bytes",
    "tracing.overhead_frac": "ratio", "tracing.unattributed_frac": "ratio",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: str, trace: bool) -> None:
    """Keep every file Spark and Python write inside ``work``; size the
    session to this machine. Must run before pyspark starts its JVM."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    args = [
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
        f"--conf spark.local.dir={local}",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf spark.ui.showConsoleProgress=false",
    ]
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        args += ["--conf spark.eventLog.enabled=true", "--conf spark.eventLog.compress=false",
                 f"--conf spark.eventLog.dir=file://{events}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args, work: str):
    import measure
    import workloads

    tracer, installed = None, []
    from h2outility_spark import session

    t = time.perf_counter()
    spark = session.get_spark("perfbench")
    start_s = time.perf_counter() - t
    try:
        if args.trace:
            import instrument

            tracer = measure.Tracer(job_counter=lambda: int(spark._jsc.sc().dagScheduler().nextJobId()))
            tracer.active = False
            installed = instrument.install(tracer)
        wl = workloads.WORKLOADS[args.workload](spark, args.seed, args.seconds, work, tracer)
        res = workloads.Result()
        try:
            t = time.perf_counter()
            wl.generate(wl.inputs)
            gen_s = time.perf_counter() - t
            t = time.perf_counter()
            wl.prepare()
            prep_s = time.perf_counter() - t
            t = time.perf_counter()
            wl.warm_up(res)
            warm_s = time.perf_counter() - t
            setup_s = start_s + gen_s + prep_s + warm_s

            # Peak memory counts the measured window only: set-up's peaks
            # (imports, input generation, warm-up) are cleared first.
            jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
            for pid in ("self", jvm_pid):
                measure.reset_vmhwm(pid)
            wl.run(res, time.perf_counter() + args.seconds)
            if not res.walls or not res.ops:
                raise RuntimeError("no iteration completed in the measured window")
            peak_rss = measure.vmhwm_mb() + measure.vmhwm_mb(jvm_pid)
            summary = wl.summary()
        finally:
            wl.close()
    finally:
        if installed:
            instrument.uninstall(installed)
        stop_spark(spark)

    report = {
        "workload": args.workload, "seed": args.seed,
        "setup_s": setup_s, "session.start_s": start_s, "inputs_s": gen_s, "prepare_s": prep_s,
        "warm_up_s": warm_s, "warm_walls": res.warm_walls,
        "wall_s": measure.median(res.walls), "iterations": len(res.walls), "walls": res.walls,
        "op_p50_s": measure.median(res.ops), "ops": len(res.ops),
        "op_p90_s": measure.percentile(res.ops, 0.9),
        "op_tail": measure.highest_percentile(res.ops),
        "peak_rss_mb": peak_rss,
        "fail_frac": res.failed / max(1, res.attempted),
        "failures": res.failures[:5],
    } | summary
    if tracer is not None:
        report |= instrument.layer_report(tracer, res, os.path.join(work, "events"))
    return report, res


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "h2outility_spark", "__init__.py")):
        print("perfbench: run from the root of a checkout that holds h2outility_spark/", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        configure_env(work, bool(args.trace))
        report, res = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    wanted = PER_LAYER if args.trace else END_TO_END
    metrics = {k: {"value": report[k], "unit": u} for k, u in wanted.items()}
    print("report " + json.dumps(report, sort_keys=True, default=str))
    print(json.dumps({"correct": res.failed == 0, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
