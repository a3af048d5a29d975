#!/usr/bin/env python
"""Repeat the bench.py scaling pair N times and print one JSON line per
repeat plus a pooled summary.

Usage: python scripts/scaling_repeats.py [repeats] [small] [big] [mode]
e.g.   python scripts/scaling_repeats.py 5 1 4 python

Each repeat is bench.py's run_scaling: both legs in fresh taskset-pinned
JVM subprocesses, best-of-3 minima per leg.  The summary reports the
median efficiency over repeats — the number BASELINE.md quotes, because
single repeats on this shared host swing ±0.12 with co-tenant load.

Do NOT run any other Spark job while this runs (CLAUDE.md invariant).
"""

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    small = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    big = int(sys.argv[3]) if len(sys.argv) > 3 else 4
    mode = sys.argv[4] if len(sys.argv) > 4 else "python"
    effs = []
    for i in range(reps):
        r = bench.run_scaling(small, big, mode=mode)
        r["repeat"] = i + 1
        r["mode"] = mode
        effs.append(r["scaling_efficiency"])
        print(json.dumps(r), flush=True)
    print(
        json.dumps(
            {
                "summary": f"{small}->{big} {mode}",
                "repeats": reps,
                "efficiencies": effs,
                "median": round(statistics.median(effs), 4),
                "best": max(effs),
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
