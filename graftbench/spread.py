#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 graftbench/spread.py --workload <name> --seeds 1 2 3 ... [--seconds 30]
    python3 graftbench/spread.py --from-files out1.txt out2.txt ...

Runs the benchmark once per seed (or reads saved outputs: the last line of
each file is a result line) and prints, per metric, the median and the
distance between the first and third quartiles as a share of the median,
next to the metric's bound in BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spreads(results, bounds):
    rows = []
    for name in sorted({k for r in results for k in r["metrics"]}):
        vals = [r["metrics"][name]["value"] for r in results if name in r["metrics"]]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        rows.append((name, med, (q3 - q1) / med if med else float("nan"), bounds.get(name)))
    return rows


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seeds", nargs="*", type=int, default=[])
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--from-files", nargs="*", default=[])
    a = ap.parse_args()
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    results = []
    for path in a.from_files:
        with open(path) as f:
            lines = [ln for ln in f.read().splitlines() if ln.strip()]
        results.append(json.loads(lines[-1]))
    for seed in a.seeds:
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload, "--seed", str(seed),
             "--seconds", str(a.seconds or bench["run_seconds"]), "--trace", "0"],
            check=True, capture_output=True, text=True).stdout
        results.append(json.loads(out.strip().splitlines()[-1]))
    print(f"{len(results)} runs; failed ops: {sum(r['failed'] for r in results)}")
    for name, med, spread, bound in spreads(results, bounds):
        flag = "" if bound is None or spread < bound / 3 else "  <-- above a third of the bound"
        print(f"{name:24s} median {med:12.4f}  spread {spread:7.4f}  bound {bound}{flag}")


if __name__ == "__main__":
    main()
