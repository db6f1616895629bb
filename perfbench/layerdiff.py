#!/usr/bin/env python3
"""Per-layer medians of two sets of traced runs, side by side.

    python3 perfbench/layerdiff.py BEFORE AFTER

BEFORE and AFTER are each a results file written by
`steady.py --trace 1`, or a directory of them (one per workload). For every
workload in both, prints each per-layer metric's median before and after and
their ratio, so the layer a change saved time in stands out.
"""
import glob
import json
import os
import statistics
import sys


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*-t1.json"))) if os.path.isdir(path) else [path]
    out = {}
    for f in files:
        with open(f) as fh:
            d = json.load(fh)
        if d.get("trace") != 1:
            sys.exit(f"{f}: not a traced set of runs (use steady.py --trace 1)")
        metrics = {}
        for r in d["runs"]:
            for k, v in r["metrics"].items():
                metrics.setdefault(k, (v["unit"], []))[1].append(v["value"])
        out[d["workload"]] = {k: (u, statistics.median(vs)) for k, (u, vs) in metrics.items()}
    return out


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    before, after = load(sys.argv[1]), load(sys.argv[2])
    for w in sorted(set(before) & set(after)):
        print(f"== {w}")
        print(f"{'metric':34} {'unit':>6} {'before':>12} {'after':>12} {'after/before':>12}")
        for k in sorted(set(before[w]) | set(after[w])):
            u, b = before[w].get(k, ("", float("nan")))
            a = after[w].get(k, (u, float("nan")))[1]
            ratio = a / b if b else float("nan")
            print(f"{k:34} {u:>6} {b:12.4f} {a:12.4f} {ratio:12.3f}")


if __name__ == "__main__":
    main()
