#!/usr/bin/env python3
"""Steadiness evidence for the benchmark's bounds.

Runs each workload `--runs` times (seeds first..first+runs-1, untraced,
BENCHMARK.json's run_seconds) and prints, per workload and end-to-end
metric, the median, the quartiles (statistics.quantiles, n=4) and the
spread (Q3 - Q1) / median next to the metric's bound and a third of it.
Each run's line also gives its host evidence (load average, steal
jiffies). Raw results are appended to .bench_build/steady.jsonl.

Usage: python3 perfbench/steady.py [--runs 10] [--first 1] [--workloads a,b]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402


def main():
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first", type=int, default=1)
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in spec["workloads"]))
    a = ap.parse_args()
    log = os.path.join(build.BUILD, "steady.jsonl")
    for w in a.workloads.split(","):
        vals = {m["name"]: [] for m in spec["end_to_end"]}
        for seed in range(a.first, a.first + a.runs):
            t0 = time.time()
            r = subprocess.run(
                spec["command"] + ["--workload", w, "--seed", str(seed),
                                   "--seconds", str(spec["run_seconds"]),
                                   "--trace", "0"],
                cwd=build.ROOT, stdout=subprocess.PIPE, text=True)
            if r.returncode != 0:
                print(f"{w} seed {seed}: exit {r.returncode}")
                continue
            out = r.stdout.strip().splitlines()
            res = json.loads(out[-1])
            host = out[0].split(": ", 1)[-1]
            with open(log, "a") as f:
                f.write(json.dumps({"workload": w, "seed": seed, "host": host,
                                    **res}) + "\n")
            for n in vals:
                vals[n].append(res["metrics"][n]["value"])
            print(f"{w} seed {seed} ({time.time() - t0:.0f} s): "
                  f"correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']} " +
                  " ".join(f"{n}={v[-1]:.3f}" for n, v in vals.items()) +
                  f" | {host}",
                  flush=True)
        for m in spec["end_to_end"]:
            v = vals[m["name"]]
            if len(v) < 2:
                continue
            q1, med, q3 = statistics.quantiles(v, n=4)
            spread = (q3 - q1) / med
            flag = "ok" if spread < m["bound"] / 3 else (
                "within bound" if spread <= m["bound"] else "TOO WIDE")
            print(f"  {w:<11} {m['name']:<12} median {med:10.3f} "
                  f"q1 {q1:10.3f} q3 {q3:10.3f} spread {spread:6.3f} "
                  f"bound {m['bound']:.2f} (/3 {m['bound'] / 3:.3f}) {flag}",
                  flush=True)


if __name__ == "__main__":
    main()
