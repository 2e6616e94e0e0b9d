#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

Usage (from the repository root):

    python3 perfbench/spread.py --workload serve --seeds 10 [--first-seed 1]

Runs the workload once per seed (untraced, run_seconds of BENCHMARK.json),
printing each run's wall time and metrics, and then, per end-to-end
metric, the median, the quartiles (statistics.quantiles(values, n=4))
and the spread (third minus first quartile, as a share of the median)
next to a third of the metric's bound, the steadiness target.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    values = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in range(a.first_seed, a.first_seed + a.seeds):
        cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", a.workload,
               "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"]
        t0 = time.time()
        r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        elapsed = time.time() - t0
        if r.returncode != 0:
            sys.exit(f"seed {seed}: exit {r.returncode}\n{r.stderr[-3000:]}")
        result = json.loads(r.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: {elapsed:.1f} s, failed {result['failed']}/{result['attempted']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
        for k in values:
            values[k].append(result["metrics"][k]["value"])
    for m in spec["end_to_end"]:
        v = values[m["name"]]
        q1, q2, q3 = statistics.quantiles(v, n=4)
        spread = (q3 - q1) / statistics.median(v)
        print(f"{m['name']:>12}: median {statistics.median(v):.4g} q1 {q1:.4g} q3 {q3:.4g} "
              f"spread {spread:.3f} (target < {m['bound'] / 3:.3f})")


if __name__ == "__main__":
    main()
