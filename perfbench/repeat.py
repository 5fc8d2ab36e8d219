#!/usr/bin/env python3
"""Run workloads repeatedly and print the median and quartiles per metric.

    python3 perfbench/repeat.py                       # every workload, 10 runs each
    python3 perfbench/repeat.py --workloads serve_read --runs 5
    python3 perfbench/repeat.py --trace 1 --runs 1    # one traced run per workload

Each run uses its own seed (--seed-base + run index) and calls
`perfbench/run.py` exactly as BENCHMARK.json's command does. It is also the
output self-check: a run whose stdout is not exactly one valid result record
with correct=true fails the script.

For every end-to-end metric it prints the spread, (Q3 - Q1) / median with
the quartiles of `statistics.quantiles(values, n=4)`, next to the metric's
bound from BENCHMARK.json; `!` marks a spread above a third of the bound.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def run_once(cmd, workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run(
        cmd + ["--workload", workload, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    wall = time.time() - t0
    lines = p.stdout.splitlines()
    problem = None
    if p.returncode != 0:
        problem = f"exit code {p.returncode}"
    elif len(lines) != 1:
        problem = f"stdout has {len(lines)} lines, expected exactly 1"
    else:
        try:
            rec = json.loads(lines[0])
        except json.JSONDecodeError as e:
            rec, problem = None, f"stdout is not JSON: {e}"
        if rec is not None:
            if set(rec) != {"correct", "attempted", "failed", "metrics"}:
                problem = f"record keys {sorted(rec)}"
            elif rec["correct"] is not True:
                problem = "correct is not true"
    if problem:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: {problem}")
    return rec, wall


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed-base", type=int, default=1000)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"] + spec["per_layer"]}
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for w in a.workloads:
        recs, walls = [], []
        for i in range(a.runs):
            rec, wall = run_once(spec["command"], w, a.seed_base + i, a.seconds, a.trace)
            recs.append(rec)
            walls.append(wall)
            print(f"{w} seed {a.seed_base + i}: {wall:.1f} s wall, attempted {rec['attempted']}, "
                  f"failed {rec['failed']}", file=sys.stderr, flush=True)
        shares = {r["failed"] / r["attempted"] for r in recs}
        print(f"\n== {w}: {a.runs} runs, wall median {statistics.median(walls):.1f} s "
              f"(max {max(walls):.1f} s), failed share {sorted(shares)}")
        print(f"{'metric':44} {'unit':>7} {'median':>14} {'q1':>14} {'q3':>14} {'spread':>7} {'bound':>6}")
        for name in recs[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in recs]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            spread = (q3 - q1) / med if med else float("nan")
            b = bounds.get(name)
            flag = "!" if b is not None and spread > b / 3 else " "
            bs = f"{b:.2f}" if b is not None else "-"
            print(f"{name:44} {units[name]:>7} {med:14.6g} {q1:14.6g} {q3:14.6g} {spread:7.3f} {bs:>6}{flag}")


if __name__ == "__main__":
    main()
