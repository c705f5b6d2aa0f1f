#!/usr/bin/env python3
"""Steadiness check: run the benchmark on several seeds per workload and
report, per end-to-end metric, the median, the quartiles and the spread
(interquartile distance as a share of the median, quartiles as
`statistics.quantiles(values, n=4)` gives them) against the metric's bound.

    python3 perfbench/steady.py --runs 10 [--workloads text,labelprop] [--json out.json]

Run from the root of a checkout; reads BENCHMARK.json for the bounds and
the run length.
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
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--json")
    a = ap.parse_args()
    report = {}
    for w in a.workloads.split(","):
        values = {m["name"]: [] for m in bench["end_to_end"]}
        for seed in range(1, a.runs + 1):
            cmd = bench["command"] + ["--workload", w, "--seed", str(seed),
                                      "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            if p.returncode != 0:
                sys.exit(f"{w} seed {seed} failed (exit {p.returncode}):\n{p.stderr[-3000:]}")
            res = json.loads(p.stdout.strip().splitlines()[-1])
            if not res["correct"]:
                print(f"{w} seed {seed}: {res['failed']} of {res['attempted']} jobs failed")
            for k in values:
                values[k].append(res["metrics"][k]["value"])
            print(f"{w} seed {seed}: " + " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()),
                  flush=True)
        report[w] = {}
        for m in bench["end_to_end"]:
            xs = values[m["name"]]
            q1, med, q3 = statistics.quantiles(xs, n=4)
            med = statistics.median(xs)
            spread = (q3 - q1) / med
            report[w][m["name"]] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                                    "bound": m["bound"], "values": xs}
            print(f"  {w:10s} {m['name']:18s} median {med:.5g} q1 {q1:.5g} q3 {q3:.5g} "
                  f"spread {spread:.3f} (bound {m['bound']}, third {m['bound'] / 3:.3f})")
    if a.json:
        with open(a.json, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
