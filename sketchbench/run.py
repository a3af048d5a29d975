"""bloomspark benchmark: run one workload and print its metrics.

Usage, from the repository root::

    python3 sketchbench/run.py --workload repo_index --seed 1 --seconds 15 --trace 0

The run starts one fresh worker process (its own Spark session on
``local[4]``), which sets up, warms every call kind and then times steps
for ``--seconds``.  Before every step it times a reference job with no
bloomspark code; the end-to-end times are wall times scaled by it, so a
host that runs slower for a while (steal, neighbours on shared caches)
moves them less.  ``build_s`` and ``probe_s`` add up each call's median
over the timed steps.  With ``--trace 1`` the process also runs the layer
suite and the run reports the per-layer metrics.  The last line of
standard output is the result as JSON; a line on standard error starting
with ``sketchbench: covariates`` carries the host steal time, the JVM peak
memory, the unscaled wall times and every call's timed samples.  See
sketchbench/README.md.
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
import threading
import time

from procmon import RssSampler, steal_jiffies

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".sketchbench_work")
#: Traced runs leave their spans here, one JSON file per run.
SPANS = os.path.join(ROOT, ".sketchbench_spans")
WORKLOADS = ("repo_index", "tenant_skew")
#: The end-to-end times are reported in seconds at the speed where the
#: reference job (``Workload.reference``) takes this long, which is about
#: what it takes on a quiet 4-core host.
REFERENCE_S = 0.5
#: Hard limit for the worker process, so that a run ends within 180 s.
PROC_TIMEOUT_S = 170.0

END_TO_END_UNITS = {
    "setup_s": "s", "build_s": "s", "probe_s": "s",
    "fpp_ratio": "ratio", "count_error": "ratio", "peak_rss_mb": "MB",
}


def fail(msg: str) -> int:
    print(f"sketchbench: {msg}", file=sys.stderr)
    return 2


def _group_pids(pgid: int):
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            pids.append(int(name))
    return pids


def stop_group(pgid: int) -> None:
    """Kill what is left of a worker's process group (its JVM and Python
    workers) and wait until every member has ended."""
    deadline = time.monotonic() + 10
    while _group_pids(pgid) and time.monotonic() < deadline:
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            break
        time.sleep(0.05)


def run_worker(args) -> dict:
    work_dir = os.path.join(WORK, f"{args.workload}-{args.seed}")
    env = dict(os.environ)
    env["PYTHONPATH"] = ROOT + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else "")
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env["TMPDIR"] = os.path.join(work_dir, "tmp")
    os.makedirs(env["TMPDIR"], exist_ok=True)
    # the JVM that spark-submit starts to assemble the driver's command line
    env["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={env['TMPDIR']}"
    t0 = time.monotonic()
    cmd = [sys.executable, "-m", "sketchbench.worker",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--t0", repr(t0), "--work-dir", work_dir]
    if args.trace:
        os.makedirs(SPANS, exist_ok=True)
        cmd += ["--spans-out", os.path.join(SPANS, f"{args.workload}-seed{args.seed}.json")]
    steal0 = steal_jiffies()
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            start_new_session=True, text=True)
    sampler = RssSampler(proc.pid).start()

    def on_term(signum, frame):
        stop_group(proc.pid)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, on_term)
    signal.signal(signal.SIGINT, on_term)
    watchdog = threading.Timer(PROC_TIMEOUT_S, stop_group, (proc.pid,))
    watchdog.start()
    line = ""
    try:
        for line in proc.stdout:
            if line.startswith("{"):
                break
        # the worker has printed its result and its tree is still alive
        rss = sampler.stop()
        steal = steal_jiffies() - steal0
    finally:
        watchdog.cancel()
        stop_group(proc.pid)
        proc.stdout.close()
        proc.wait()
        shutil.rmtree(work_dir, ignore_errors=True)
    if not line.startswith("{"):
        raise RuntimeError(f"the worker exited with {proc.returncode} and no result")
    result = json.loads(line)
    result["rss"] = rss
    result["steal_jiffies"] = steal
    result["wall_s"] = time.monotonic() - t0
    return result


def reference_units(r, seconds: float) -> float:
    """``seconds`` over the run's median reference job, in seconds at the
    reference speed."""
    return REFERENCE_S * seconds / statistics.median(s["reference"] for s in r["steps"])


def phase_seconds(r, phase: str) -> float:
    """Sum over the phase's calls of each call's median over the steps, in
    seconds at the reference speed."""
    names = r["steps"][0][phase]
    return reference_units(r, sum(statistics.median(s[phase][n] for s in r["steps"])
                                  for n in names))


def combine_untraced(r) -> dict:
    values = {
        "setup_s": reference_units(r, r["setup_s"]),
        "build_s": phase_seconds(r, "build"),
        "probe_s": phase_seconds(r, "probe"),
        "fpp_ratio": r["fpp_ratio"],
        "count_error": r["count_error"],
        "peak_rss_mb": r["rss"]["python_mb"],
    }
    return {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}


SELF_LAYERS = ("bench", "hashing", "filter", "build", "probe", "grouped", "sharded")


def combine_traced(r) -> dict:
    metrics = dict(r["layers"])
    metrics["session.jvm_peak_rss_mb"] = {"value": r["rss"]["jvm_mb"], "unit": "MB"}
    metrics["host.steal_jiffies"] = {"value": r["steal_jiffies"], "unit": "jiffies"}
    for layer in SELF_LAYERS:
        metrics[f"self.{layer}_s"] = {"value": r["self_s"].get(layer, 0.0), "unit": "s"}
    metrics["trace.overhead_s"] = {"value": r["trace_overhead_s"], "unit": "s"}
    return metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if args.workload not in WORKLOADS:
        return fail(f"unknown workload {args.workload!r}; one of {WORKLOADS}")
    if not os.path.isfile(os.path.join(ROOT, "bloomspark", "__init__.py")):
        return fail(f"no bloomspark package under {ROOT}")

    try:
        r = run_worker(args)
    except RuntimeError as exc:
        return fail(str(exc))
    finally:
        shutil.rmtree(WORK, ignore_errors=True)

    for f in r["failures"]:
        print(f"sketchbench: {f}", file=sys.stderr)
    if "steps" not in r:
        return fail("the worker stopped before its timed steps")
    if args.trace:
        if "layers" not in r:
            return fail("the worker stopped before its layer suite")
        metrics = combine_traced(r)
    else:
        metrics = combine_untraced(r)
    covariates = {
        "steal_jiffies": r["steal_jiffies"],
        "jvm_peak_rss_mb": r["rss"]["jvm_mb"],
        "setup_wall_s": r["setup_s"],
        "setup_marks": r["setup_marks"],
        "wall_s": r["wall_s"],
        "reference": [s["reference"] for s in r["steps"]],
        "calls": {n: [s[phase][n] for s in r["steps"]]
                  for phase in ("build", "probe") for n in r["steps"][0][phase]},
    }
    print(f"sketchbench: covariates {json.dumps(covariates)}", file=sys.stderr)
    print(json.dumps({"correct": r["failed"] == 0, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
