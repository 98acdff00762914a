#!/usr/bin/env python3
"""Trace summarizer: prints every per-layer metric of the traced runs kept
under perfbench/.work/records, one column per workload (median over that
workload's traced runs), with the end-to-end metric each should move, and
the tracing overhead: the traced runs' end-to-end figures against the
untraced runs'.

    python3 perfbench/run.py --workload ingest --seed 1 --trace 1
    python3 perfbench/summarize.py [--records DIR]
"""
import argparse
import glob
import json
import os
import statistics

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--records", default=os.path.join(HERE, ".work", "records"))
    args = ap.parse_args()
    recs = []
    for p in glob.glob(os.path.join(args.records, "*.json")):
        with open(p) as f:
            recs.append(json.load(f))
    workloads = sorted({r["workload"] for r in recs})
    traced = {w: [r for r in recs if r["workload"] == w and r["trace"] == 1] for w in workloads}
    plain = {w: [r for r in recs if r["workload"] == w and r["trace"] == 0] for w in workloads}
    shown = [w for w in workloads if traced[w]]

    print("| metric | unit | " + " | ".join(shown) + " | should move |")
    print("|---|---|" + "---|" * len(shown) + "---|")
    for name, (unit, _better, moves) in metrics.PER_LAYER.items():
        vals = [statistics.median(r["metrics"][name]["value"] for r in traced[w]) for w in shown]
        print(f"| {name} | {unit} | " + " | ".join(f"{v:.4g}" for v in vals) + f" | {moves} |")
    print(f"\ntraced runs: " + ", ".join(f"{w} {len(traced[w])}" for w in shown))

    print("\n| workload | metric | untraced median | traced median | traced / untraced |")
    print("|---|---|---|---|---|")
    for w in shown:
        if not plain[w]:
            continue
        for name in metrics.END_TO_END:
            a = statistics.median(r["e2e"][name] for r in plain[w])
            b = statistics.median(r["e2e"][name] for r in traced[w])
            print(f"| {w} | {name} | {a:.4g} | {b:.4g} | {b / a:.3f} |")


if __name__ == "__main__":
    main()
