"""Steadiness self-check: two sets of runs of the same code, compared the
way the benchmark's acceptance compares them.

Usage, from the repository root::

    python3 sketchbench/steady.py --runs 10 [--first-seed 1] [--out steady.json]

Set A runs seeds ``first-seed .. first-seed+runs-1`` and set B the next
``runs`` seeds, so the sets differ in seeds as well as in time.  The two
sets are interleaved: round ``r`` runs A's and B's ``r``-th seed on every
workload of BENCHMARK.json, one fresh ``run.py`` at a time, with the order
of sets and of workloads alternating between rounds.

For every end-to-end metric of every workload it prints each set's median,
quartiles and spread (third minus first quartile over the median, from
``statistics.quantiles(values, n=4)``), and the change of B's median from
A's.  It fails (exit code 1) when a spread or a change of medians, in
either direction, exceeds the metric's bound, or when a run reports a
failed operation; ``setup_s`` gets no exemption.  A spread above a third
of its bound is flagged.  Each run's host steal jiffies and wall time are
printed beside it.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
COVARIATES = "sketchbench: covariates "


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=200)
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n"
                           + proc.stderr[-2000:])
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    cov = {}
    for line in proc.stderr.splitlines():
        if line.startswith(COVARIATES):
            cov = json.loads(line[len(COVARIATES):])
    return {"seed": seed, "result": result, "covariates": cov}


def quartiles(values) -> tuple:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return q1, med, q3, (q3 - q1) / med


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10, help="runs per set and workload")
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", nargs="*", help="default: those in BENCHMARK.json")
    ap.add_argument("--out", help="write every run's result and covariates here")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seeds = {"A": args.first_seed, "B": args.first_seed + args.runs}

    runs = {w: {"A": [], "B": []} for w in workloads}
    for r in range(args.runs):
        flip = r % 2 == 1
        for s in ("B", "A") if flip else ("A", "B"):
            for w in reversed(workloads) if flip else workloads:
                run = run_once(w, seeds[s] + r, bench["run_seconds"])
                runs[w][s].append(run)
                res, cov = run["result"], run["covariates"]
                print(f"round {r} set {s} {w} seed {run['seed']}: "
                      f"failed={res['failed']}/{res['attempted']} "
                      f"steal={cov.get('steal_jiffies')} "
                      f"wall={cov.get('wall_s', 0):.1f}s", flush=True)

    ok = True
    for w in workloads:
        print(f"\n{w}:")
        for s in ("A", "B"):
            print(f"  set {s} steal jiffies per run "
                  f"{[r['covariates'].get('steal_jiffies') for r in runs[w][s]]}")
        for name, bound in bounds.items():
            med = {}
            for s in ("A", "B"):
                values = [r["result"]["metrics"][name]["value"] for r in runs[w][s]]
                q1, med[s], q3, spread = quartiles(values)
                flag = ""
                if spread > bound:
                    ok, flag = False, "  <-- ABOVE THE BOUND"
                elif spread > bound / 3:
                    flag = "  <-- above a third of the bound"
                print(f"  {name:12s} {s}: median {med[s]:.6g}  q1 {q1:.6g}  q3 {q3:.6g}  "
                      f"spread {spread:.4f}  bound {bound}{flag}")
            change = med["B"] / med["A"] - 1
            flag = ""
            if max(med["B"] / med["A"], med["A"] / med["B"]) - 1 > bound:
                ok, flag = False, "  <-- ABOVE THE BOUND"
            print(f"  {name:12s} B/A - 1 = {change:+.4f}{flag}")
        bad = [r["seed"] for s in ("A", "B") for r in runs[w][s]
               if not r["result"]["correct"]]
        if bad:
            ok = False
            print(f"  failed operations on seeds {bad}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(runs, f)
    print("\nsteady" if ok else "\nNOT steady")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
