"""Steadiness check: run one workload k times, each with its own seed,
and print for every end-to-end metric the median, the quartiles and
the spread (q3 - q1) / median against the metric's bound in
BENCHMARK.json.

    python3 sparkbench/steadiness.py --workload tpch_floor -k 10 [--first-seed 1]
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("-k", type=int, default=10, help="runs (at least 2)")
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()

    values: dict[str, list[float]] = {m["name"]: [] for m in bench["end_to_end"]}
    for seed in range(args.first_seed, args.first_seed + args.k):
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}", file=sys.stderr)
            return 1
        result = json.loads(out.stdout.strip().splitlines()[-1])
        if not result["correct"]:
            print(f"seed {seed}: incorrect: {out.stdout}", file=sys.stderr)
            return 1
        for name in values:
            values[name].append(result["metrics"][name]["value"])
        print(f"seed {seed}: " + " ".join(f"{n}={v[-1]:.4f}" for n, v in values.items()), flush=True)

    print(f"\n{args.workload}, {args.k} runs")
    print(f"{'metric':14s} {'median':>9s} {'q1':>9s} {'q3':>9s} {'spread':>7s} {'bound':>6s}  verdict")
    for m in bench["end_to_end"]:
        v = values[m["name"]]
        q1, med, q3 = statistics.quantiles(v, n=4)
        spread = (q3 - q1) / med
        verdict = "steady" if spread < m["bound"] / 3 else "within bound" if spread <= m["bound"] else "TOO NOISY"
        print(f"{m['name']:14s} {med:9.4f} {q1:9.4f} {q3:9.4f} {spread:7.3f} {m['bound']:6.2f}  {verdict}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
