"""Tracing overhead of one workload: the traced minus the untraced
end-to-end numbers, as medians over ``--pairs`` pairs of runs with the
same seed, alternating which of the two runs first.

    python3 perfbench/overhead.py --workload ingest_day --seed 1 --seconds 10 --pairs 3
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
METRICS = ("cpu_us_per_row", "cycle_s", "batch_p50_ms")


def run(args, trace: int) -> dict[str, float]:
    """The compared numbers of one run, by name."""
    out = subprocess.run(
        [
            sys.executable, os.path.join(HERE, "run.py"),
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(trace),
        ],
        capture_output=True, text=True, check=True,
    )
    detail, result = (json.loads(line) for line in out.stdout.strip().splitlines()[-2:])
    metrics = result["metrics"]
    if trace:
        return {name: metrics[f"trace.{name}"]["value"] for name in METRICS}
    return {
        "cpu_us_per_row": metrics["cpu_us_per_row"]["value"],
        "cycle_s": detail["wall"]["cycle_s"],
        "batch_p50_ms": detail["wall"]["batch_p50_ms"],
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--pairs", type=int, default=3)
    args = ap.parse_args()
    runs: dict[int, list[dict]] = {0: [], 1: []}
    for i in range(args.pairs):
        for trace in (0, 1) if i % 2 == 0 else (1, 0):
            runs[trace].append(run(args, trace))
    for name in METRICS:
        u = statistics.median(r[name] for r in runs[0])
        t = statistics.median(r[name] for r in runs[1])
        print(json.dumps({
            "metric": name, "untraced": u, "traced": t,
            "overhead": t - u, "overhead_frac": (t - u) / u,
            "pairs": args.pairs,
        }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
