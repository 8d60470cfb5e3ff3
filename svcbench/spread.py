#!/usr/bin/env python3
"""Run-to-run spread of the service benchmark.

Usage, from the root of the repository:

    python3 svcbench/spread.py --workload search_mix --seeds 1-10 [--out a.json]
    python3 svcbench/spread.py --compare a.json b.json

The first form runs the benchmark once per seed (untraced) and prints,
for each end-to-end metric, the median and the interquartile range as a
share of the median, next to the metric's bound in BENCHMARK.json; with
--out it also saves the values. The second form compares the medians of
two saved sets: each metric's change from the first set to the second,
as a share of the first median, next to its bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_set(bench, workload, seeds, seconds):
    lo, hi = (int(x) for x in seeds.split("-"))
    values = {}
    for seed in range(lo, hi + 1):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             workload, "--seed", str(seed), "--seconds", str(seconds),
             "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
            continue
        res = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: correct={res['correct']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
            flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for m in bench["end_to_end"]:
        xs = values.get(m["name"], [])
        if len(xs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        print(f"{m['name']}: median {med:.4g}, IQR/median {(q3 - q1) / med:.3f}"
              f" (bound {m['bound']}, n={len(xs)})")
    return values


def compare(bench, a, b):
    for m in bench["end_to_end"]:
        if m["name"] not in a or m["name"] not in b:
            continue
        ma, mb = statistics.median(a[m["name"]]), statistics.median(b[m["name"]])
        worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
        print(f"{m['name']}: median {ma:.4g} -> {mb:.4g}, change {mb / ma - 1:+.3f}, "
              f"worse by {max(0.0, worse):.3f} (bound {m['bound']})")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seeds", default="1-10", help="first-last, inclusive")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--out", help="save the values of this set here")
    ap.add_argument("--compare", nargs=2, metavar=("A", "B"),
                    help="compare the medians of two saved sets")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.compare:
        sets = []
        for p in args.compare:
            with open(p) as f:
                sets.append(json.load(f))
        compare(bench, *sets)
        return
    if not args.workload:
        ap.error("--workload is required unless --compare is given")
    values = run_set(bench, args.workload, args.seeds,
                     args.seconds or bench["run_seconds"])
    if args.out:
        with open(args.out, "w") as f:
            json.dump(values, f)


if __name__ == "__main__":
    main()
