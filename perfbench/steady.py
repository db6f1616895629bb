#!/usr/bin/env python3
"""Run one workload N times and report how steady each metric is.

    python3 perfbench/steady.py --workload NAME [--runs 10] [--first-seed 1]
                                [--trace 0|1] [--seconds S]

Runs `run.py` once per seed (first-seed, first-seed+1, ...), each for
`--seconds` (default: `run_seconds` of BENCHMARK.json), then prints for
each metric its median, first and third quartile
(`statistics.quantiles(values, n=4)`), the spread (q3 - q1) / median and,
for end-to-end metrics, the bound from BENCHMARK.json. Every end-to-end
metric but `setup_s` must spread no more than its bound; `setup_s`, wall time
on a host whose speed drifts between runs, is held only to its median (the
regression gate compares two sets of runs the same way), so its spread is
printed but marked `exempt`.
The share of failed operations must be the same in every run. The raw
results go to `perfbench/.work/steady/<workload>-t<trace>.json`, which
`layerdiff.py` reads.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def summary(values):
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = values[0]
    spread = (q3 - q1) / med if med else float("inf")
    return med, q1, q3, spread


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--seconds", type=float)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    out = os.path.join(BENCH, ".work", "steady", f"{a.workload}-t{a.trace}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)

    results = []
    for i in range(a.runs):
        seed = a.first_seed + i
        p = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(a.trace)],
            cwd=ROOT, stdout=subprocess.PIPE, text=True)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        if p.returncode != 0 or not last.startswith("{"):
            sys.exit(f"run with seed {seed} failed (exit {p.returncode})")
        r = json.loads(last)
        r["seed"] = seed
        results.append(r)
        print(f"seed {seed}: attempted {r['attempted']} failed {r['failed']} "
              f"correct {r['correct']}", file=sys.stderr)
    with open(out, "w") as f:
        json.dump({"workload": a.workload, "trace": a.trace, "runs": results}, f, indent=1)

    ok = True
    shares = {r["failed"] / r["attempted"] for r in results}
    if len(shares) != 1 or not all(r["correct"] for r in results):
        ok = False
    print(f"{a.workload}: {len(results)} runs, failed share {sorted(shares)}, "
          f"all correct: {all(r['correct'] for r in results)}")
    print(f"{'metric':34} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        med, q1, q3, spread = summary(vals)
        bound = bounds.get(name)
        flag = ""
        if bound is not None:
            flag = "ok" if spread <= bound else "WIDE"
            if name == "setup_s":
                flag = "exempt"
            else:
                ok &= spread <= bound
        print(f"{name:34} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.3f} "
              f"{'' if bound is None else bound:>6} {flag}")
    print(f"results in {os.path.relpath(out, ROOT)}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
