"""The benchmark process: a fresh Spark session, set-up, timed steps and
checks for one workload.  ``run.py`` starts it as
``python3 -m sketchbench.worker ...`` from the repository root and reads
what it prints (one JSON object, the last line of standard output).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

from .tracing import Tracer

#: local[4] is this benchmark's fixed parallelism: spread between fresh
#: processes measured lower at 4 threads than at 2.
CORES = 4
#: A run times at least this many steps.
MIN_STEPS = 2


def step_seconds(step: dict) -> float:
    return sum(step["build"].values()) + sum(step["probe"].values())


def step(wl, ops) -> dict:
    """The reference job, then one step of the workload."""
    _, ref = ops.call("bench.reference", "bench", wl.reference)
    s = wl.step()
    s["reference"] = ref
    return s


def make_session(work_dir: str):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("sketchbench")
        .config("spark.driver.memory", "3g")
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.local.dir", os.path.join(work_dir, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * CORES))
        .config("spark.default.parallelism", str(2 * CORES))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--t0", type=float, required=True,
                    help="time.monotonic() just before this process was started")
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--spans-out", help="traced runs write their spans here")
    args = ap.parse_args(argv)

    from .workloads import WORKLOADS, Failed, Ops

    spark = make_session(args.work_dir)
    spark.sparkContext.setLogLevel("ERROR")
    marks = {"session": time.monotonic() - args.t0}
    cls = WORKLOADS[args.workload]
    run_id = f"{args.workload}-{args.seed}"
    tracer = Tracer(False, args.workload, run_id)
    ops = Ops(tracer)
    result = {}
    try:
        wl = cls(spark, args.seed, ops)
        wl.setup()
        marks["inputs"] = time.monotonic() - args.t0
        # untimed steps run every timed call kind: the first call of a kind
        # in a process pays for Python worker start-up and code generation
        for _ in range(wl.WARM_STEPS):
            step(wl, ops)
        result["setup_s"] = time.monotonic() - args.t0
        result["setup_marks"] = marks

        steps = []
        spent = 0.0
        while spent < args.seconds or len(steps) < MIN_STEPS:
            # traced runs alternate untraced and traced steps (hence two
            # steps at least), so the difference between the two is the
            # tracing overhead
            tracer.enabled = bool(args.trace) and len(steps) % 2 == 1
            with tracer.span("step", "bench"):
                s = step(wl, ops)
            s["traced"] = tracer.enabled
            steps.append(s)
            spent += step_seconds(s)
        tracer.enabled = bool(args.trace)
        with tracer.span("checks", "bench"):
            wl.run_checks()
        result["steps"] = steps
        result["fpp_ratio"], result["count_error"] = wl.quality
        if args.trace:
            from .layers import layer_suite

            result["layers"] = layer_suite(spark, wl.layer_inputs(), ops)
            result["self_s"] = tracer.self_time_by_layer()
            untraced = [step_seconds(s) for s in steps if not s["traced"]]
            traced = [step_seconds(s) for s in steps if s["traced"]]
            result["trace_overhead_s"] = (statistics.median(traced)
                                          - statistics.median(untraced))
            tracer.dump(args.spans_out)
    except Failed:
        pass
    finally:
        result["attempted"] = ops.attempted
        result["failed"] = ops.failed
        result["failures"] = ops.failures
    # no spark.stop(): run.py takes its last memory sample and kills the
    # process group (JVM and Python workers) once this line is read, which
    # is faster than a clean stop
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
