"""Tracing overhead: run a workload untraced and traced on the same seeds
and print, per end-to-end metric, the median of each mode and their
relative difference.

    python3 perfbench/overhead.py --workload filtered_online --seeds 1,2,3 --seconds 10

Run from the repository root. A traced run reports the end-to-end figures
it measured in its details line (the line before the result line).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def run(workload: str, seed: int, seconds: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", seconds, "--trace", str(trace)],
        check=True, capture_output=True, text=True,
    ).stdout.strip().splitlines()
    return json.loads(out[-2])["end_to_end"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="comma-separated seeds")
    ap.add_argument("--seconds", default="10")
    args = ap.parse_args()
    values: dict[int, dict[str, list[float]]] = {0: {}, 1: {}}
    for seed in (int(s) for s in args.seeds.split(",")):
        for trace in (0, 1):
            for name, m in run(args.workload, seed, args.seconds, trace).items():
                values[trace].setdefault(name, []).append(m["value"])
    report = {}
    for name, plain in values[0].items():
        off, on = statistics.median(plain), statistics.median(values[1][name])
        report[name] = {"untraced": off, "traced": on,
                        "difference": (on - off) / off if off else None}
    print(json.dumps({"workload": args.workload, "seeds": args.seeds,
                      "tracing_overhead": report}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
