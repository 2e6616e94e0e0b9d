#!/usr/bin/env python3
"""Smoke test of the benchmark itself.

Usage (from the repository root):

    python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json in the tiny --smoke mode, untraced
and traced, and checks that the last stdout line has exactly the keys
correct/attempted/failed/metrics, that every end-to-end (untraced) or
per-layer (traced) metric of BENCHMARK.json is emitted with its unit,
and that no operation failed. Prints the traced run's overhead against
the untraced one. Exits non-zero on the first problem.
"""
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run(workload, trace):
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", str(trace), "--smoke"]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if r.returncode != 0:
        sys.exit(f"{workload} trace={trace}: exit {r.returncode}\n{r.stderr[-3000:]}")
    lines = r.stdout.strip().splitlines()
    return json.loads(lines[-2])["record"], json.loads(lines[-1])


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    problems = []
    for w in spec["workloads"]:
        for trace, wanted in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            record, result = run(w["name"], trace)
            where = f"{w['name']} trace={trace}"
            if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
                problems.append(f"{where}: keys {sorted(result)}")
            if result["failed"] != 0 or not result["correct"] or result["attempted"] < 1:
                problems.append(f"{where}: attempted {result['attempted']}, "
                                f"failed {result['failed']}: {record.get('oracle_failures')}")
            names = {m["name"] for m in wanted}
            if set(result["metrics"]) != names:
                problems.append(f"{where}: missing {sorted(names - set(result['metrics']))}, "
                                f"extra {sorted(set(result['metrics']) - names)}")
            for m in wanted:
                got = result["metrics"].get(m["name"], {})
                if got.get("unit") != m["unit"] or not isinstance(got.get("value"), (int, float)):
                    problems.append(f"{where}: {m['name']} emitted as {got}")
            print(f"{where}: {result['attempted']} attempted, {result['failed']} failed, "
                  f"{len(result['metrics'])} metrics" +
                  (f", trace overhead {record['trace_overhead']}" if trace else ""))
    if problems:
        sys.exit("\n".join(problems))
    print("smoke ok")


if __name__ == "__main__":
    main()
