#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --runs 10 --first-seed 1 [--workload flagship_route ...]

Runs `run.py` once per seed on each workload and prints, per metric, the
median of the runs and the distance between their first and third quartile
as a share of the median (`statistics.quantiles(values, n=4)`), next to the
bound in BENCHMARK.json. Exits non-zero when a run fails.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", nargs="*", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    summary = {}
    for w in a.workload:
        values = {}
        for seed in range(a.first_seed, a.first_seed + a.runs):
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", str(seed),
                 "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                sys.exit(f"{w} seed {seed} failed (exit {p.returncode})")
            for name, m in json.loads(lines[-1])["metrics"].items():
                values.setdefault(name, []).append(m["value"])
        summary[w] = {}
        for name, vs in values.items():
            q1, q2, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / q2
            summary[w][name] = {"median": q2, "spread": spread, "values": vs}
            print(f"{w:16s} {name:12s} median {q2:14.4f}  spread {spread:.4f}"
                  f"  bound {bounds.get(name, float('nan'))}", flush=True)
    out = os.path.join(ROOT, ".bench_build", f"spread-s{a.first_seed}-n{a.runs}.json")
    with open(out, "w") as fh:
        json.dump(summary, fh, indent=1)


if __name__ == "__main__":
    main()
