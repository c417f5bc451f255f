"""SCD engine benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload nightly_build --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  The engine runs on ``local[<cpus>]``
with one client in a closed loop.  ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` runs the same loop with every other operation traced
and prints the per-layer metrics.  Every result is checked against the
generator's model; a mismatch fails the run (exit code 1).  Scratch data
lives in ``.perfbench_work/`` (removed at exit); spans and the full report
are written to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3  # from-scratch setups per run; setup_s takes their median


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: str, trace: bool) -> None:
    """Keep every file Spark and Python write inside ``work``."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's own JVM
    confs = [
        f"spark.local.dir={os.path.join(work, 'spark-local')}",
        f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        # -XX:-UsePerfData: no hsperfdata file under /tmp
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
        f"-Dderby.system.home={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        confs += ["spark.ui.retainedJobs=1000000",
                  "spark.ui.retainedStages=1000000"]
    args = " ".join(f"--conf {shlex.quote(c)}" for c in confs)
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def vm_hwm_mb(pid) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM the gateway launched."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "dbt_scd2_utils_spark")):
        print("perfbench: no dbt_scd2_utils_spark package beside perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    t0 = time.perf_counter()
    import workloads  # noqa: E402  (needs the package on sys.path)

    import_s = time.perf_counter() - t0

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    prepare_env(work, bool(args.trace))
    try:
        return run(args, work, out_dir, workloads, import_s)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, out_dir: str, workloads, import_s: float) -> int:
    import report
    import tracing
    from dbt_scd2_utils_spark.session import get_spark
    from pyspark import SparkContext

    cpus = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=cpus, ui=bool(args.trace))
    session_start_s = import_s + time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        tracer = tracing.Tracer(spark, enabled=False)
        r = workloads.Run(spark, tracer, work, trace=bool(args.trace))
        wl_cls = workloads.WORKLOADS[args.workload]
        setup_times = []
        for rep in range(SETUP_REPS):
            if rep:
                workloads.cleanup(os.path.join(work, f"setup-{rep - 1}"))
                spark.catalog.clearCache()
            wl = wl_cls(r, args.seed)
            t0 = time.perf_counter()
            wl.setup(f"setup-{rep}")
            setup_times.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm_up()
        warm_up_s = time.perf_counter() - t0
        r.measuring = True
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < args.seconds:
            wl.round()
        wl.finish()
        loop_s = time.perf_counter() - t0
        jvm = getattr(SparkContext._gateway, "proc", None)
        rss = vm_hwm_mb("self") + (vm_hwm_mb(jvm.pid) if jvm else 0.0)
        stages = storage = None
        if args.trace:
            stages = tracing.stage_metrics(spark)
            storage = tracing.storage_mb(spark)
            tracer.write(os.path.join(
                out_dir, f"spans_{args.workload}_seed{args.seed}.json"))
        result = report.build(
            wl, r, trace=bool(args.trace), session_start_s=session_start_s,
            setup_times=setup_times, warm_up_s=warm_up_s, loop_s=loop_s, peak_rss_mb=rss,
            table_mb=r.table_mb(), stages=stages, storage_mb=storage,
            cpus=cpus,
        )
    finally:
        stop_spark(spark)
    with open(os.path.join(
        out_dir, f"report_{args.workload}_seed{args.seed}_trace{args.trace}.json"
    ), "w") as f:
        json.dump(result, f, indent=1, default=str)
    print(json.dumps({k: result[k] for k in ("workload", "report", "properties",
                                             "tails", "failures")},
                     default=str))
    print(json.dumps(result["final"]))
    return 0 if result["final"]["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
