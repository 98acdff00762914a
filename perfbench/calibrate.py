#!/usr/bin/env python3
"""Calibration: runs each workload repeatedly, interleaved across workloads
(and across sets), and prints every end-to-end metric's median, quartiles,
minimum and maximum per workload and set, its spread (interquartile range
over median) and, with two sets, how far the second set's median moved
from the first's, against the bounds in BENCHMARK.json.

    python3 perfbench/calibrate.py [--runs 10] [--sets 2] [--seconds 10]
        [--workloads dashboard,ingest] [--seed 100] [--json out.json]

Run i of set s uses seed `seed + s * runs + i`, so every run has its own
inputs. A run that fails is reported and left out of the figures.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload, seed, seconds):
    t0 = time.time()
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    wall = time.time() - t0
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        print(f"  {workload} seed {seed}: failed ({r.returncode}) {r.stderr[-500:]}",
              file=sys.stderr)
        return None
    out = json.loads(lines[-1])
    out["wall_s"] = wall
    return out


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "min": min(values), "max": max(values),
            "spread": (q3 - q1) / statistics.median(values)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--seed", type=int, default=100)
    ap.add_argument("--json", default=None)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in bench["workloads"]])
    bounds = {m["name"]: m for m in bench["end_to_end"]}

    runs = {(s, w): [] for s in range(args.sets) for w in workloads}
    for i in range(args.runs):
        for s in range(args.sets):
            for w in workloads:
                seed = args.seed + s * args.runs + i
                r = one_run(w, seed, args.seconds)
                if r:
                    runs[(s, w)].append(r)
                    print(f"  set {s} {w} seed {seed}: {r['wall_s']:.0f} s "
                          f"failed {r['failed']}/{r['attempted']} " +
                          " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                          file=sys.stderr, flush=True)

    report = {}
    ok = True
    for w in workloads:
        print(f"\n## {w}\n")
        print("| metric | set | median | q1 | q3 | min | max | spread | bound |")
        print("|---|---|---|---|---|---|---|---|---|")
        for name, b in bounds.items():
            meds = []
            for s in range(args.sets):
                vals = [r["metrics"][name]["value"] for r in runs[(s, w)]]
                if len(vals) < 2:
                    continue
                st = summary(vals)
                meds.append(st["median"])
                report[f"{w}/{name}/set{s}"] = st
                if st["spread"] > b["bound"]:
                    ok = False
                print(f"| {name} | {s} | {st['median']:.4g} | {st['q1']:.4g} | {st['q3']:.4g} "
                      f"| {st['min']:.4g} | {st['max']:.4g} | {st['spread']:.3f} | {b['bound']} |")
            if len(meds) == 2:
                worse = (meds[1] - meds[0]) / meds[0]
                if b["better"] == "higher":
                    worse = -worse
                report[f"{w}/{name}/shift"] = worse
                ok = ok and worse <= b["bound"]
                print(f"| {name} | shift | {worse:+.3f} of set 0's median (worse if > 0) "
                      f"| | | | | | {b['bound']} |")
        shares = {s: sorted({r["failed"] / r["attempted"] for r in runs[(s, w)]})
                  for s in range(args.sets)}
        print(f"\nfailed share per set: {shares}; run wall time median "
              f"{statistics.median(r['wall_s'] for s in range(args.sets) for r in runs[(s, w)]):.1f} s")
    print(f"\nwithin bounds: {ok}")
    if args.json:
        with open(args.json, "w") as f:
            json.dump({"report": report, "runs": {f"{s}/{w}": v for (s, w), v in runs.items()}},
                      f, indent=1)


if __name__ == "__main__":
    main()
