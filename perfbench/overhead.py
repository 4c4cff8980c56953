"""Tracing overhead: the same workload and seed run untraced and then
traced; prints traced minus untraced for each timed quantity.

    python3 perfbench/overhead.py --workload delta_1pct --seed 1 --seconds 1

The traced run reports its own end-to-end timings as the per-layer
metrics ``trace.setup_s`` and ``trace.op_s``. Both runs do the same
work in the same order (on ``full_build`` the traced run's
layer-by-layer pipeline comes after the ops), so each difference is
the cost of the event log and the job groups.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
TIMED = ("setup_s", "op_s")


def run(args, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace),
         "--size", args.size],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, check=True,
    )
    return json.loads(p.stdout.strip().splitlines()[-1])["metrics"]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--size", choices=("bench", "tiny"), default="bench")
    args = ap.parse_args()
    plain, traced = run(args, 0), run(args, 1)
    report = {}
    for name in TIMED:
        a, b = plain[name]["value"], traced[f"trace.{name}"]["value"]
        report[name] = {"untraced": a, "traced": b, "overhead": b - a}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "tracing_overhead_s": report}))


if __name__ == "__main__":
    main()
