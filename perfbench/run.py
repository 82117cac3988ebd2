#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_ingest --seed 1 --seconds 5 --trace 0

Run from the repository root.  Starts one Spark session on
``local[<cores>]``, sets the workload up, runs its operations closed-loop
(one client, the next operation after the previous one completes) until
``--seconds`` have passed (at least one operation), checks every
output, and prints one JSON line last: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  The spans of a traced run are
written to ``.perfbench_work/traces/``.  Exit code 0 only when every
check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark"
# a fixed-size heap (-Xms = -Xmx) keeps peak RSS from following the
# collector's resizing decisions, which differ run to run
DRIVER_MEM = "2g"

E2E_UNITS = {"setup_s": "s", "op_p50_s": "s", "report_p50_s": "s",
             "items_per_s": "items/s", "peak_rss_mb": "MB"}


def _env(work: str) -> None:
    """Keep every file Spark and the JVM write inside the work dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def _stop(spark, jvm: subprocess.Popen) -> None:
    from pyspark import SparkContext

    spark.stop()
    if SparkContext._gateway is not None:
        SparkContext._gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    jvm.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        jvm.wait(timeout=60)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()


def _measure(wl, seconds: float) -> tuple[int, int]:
    attempted = failed = 0
    deadline = time.perf_counter() + seconds
    while attempted == 0 or time.perf_counter() < deadline:
        attempted += 1
        try:
            wl.op(attempted - 1)
        except Exception:
            failed += 1
            traceback.print_exc()
            break  # state after a failed operation is not trusted
    return attempted, failed


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads
    from spans import Tracer, vm_hwm_mb

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _env(work)
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    jvm = spark.sparkContext._gateway.proc
    traced = bool(args.trace)
    wl = workloads.WORKLOADS[args.workload](
        spark, os.path.join(work, "main"), args.seed, Tracer() if traced else None
    )
    attempted, failed, metrics = 1, 1, {}
    try:
        wl.setup()
        attempted, failed = _measure(wl, args.seconds)
        setup_s = session_s + wl.setup_s
        if traced:
            metrics = {"session.start_s": session_s, **wl.layer_metrics()}
            # the other workload's layers, measured once on a small input
            # so every per-layer metric is a measurement on every run
            probe = workloads.probe_for(args.workload, spark, os.path.join(work, "probe"),
                                        args.seed, Tracer())
            probe.setup()
            probe.op(0)
            metrics.update(probe.layer_metrics())
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            wl.tracer.dump(
                os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed, "sizes": wl.sizes},
            )
        else:
            metrics = {
                "setup_s": setup_s,
                "op_p50_s": statistics.median(wl.op_s),
                "report_p50_s": statistics.median(wl.report_s),
                "items_per_s": wl.items / wl.busy_s,
                "peak_rss_mb": vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm.pid),
            }
    except Exception:
        traceback.print_exc()
    finally:
        _stop(spark, jvm)
        shutil.rmtree(work, ignore_errors=True)

    units = E2E_UNITS if not traced else workloads.LAYER_UNITS
    print(json.dumps({"workload": args.workload, "seed": args.seed, "sizes": wl.sizes,
                      "op_samples": len(wl.op_s), "report_samples": len(wl.report_s)}))
    correct = failed == 0 and set(metrics) == set(units)
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
