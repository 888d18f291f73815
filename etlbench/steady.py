#!/usr/bin/env python3
"""Steadiness check: run one workload in two separate sets of runs, each
run with its own seed, and say whether the two sets agree within the bounds
in BENCHMARK.json.

    python3 etlbench/steady.py --workload etl_wide_rows --runs 10

For each end-to-end metric it prints, per set, the median, the quartiles
and the spread (interquartile distance over the median, as
statistics.quantiles(values, n=4) gives the quartiles). The sets agree when
every spread is within the metric's bound, when no metric's second median
differs from the first, in either direction, by more than its bound, and
when the share of failed operations is the same in both sets. Exit code 0
means they agree.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload, seed, seconds):
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                         cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if out.returncode != 0:
        sys.exit(f"run with seed {seed} failed (exit {out.returncode})")
    return json.loads(out.stdout.strip().splitlines()[-1])


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1000)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)

    sets = []
    for k in range(2):
        results = []
        for i in range(args.runs):
            seed = args.first_seed + k * args.runs + i
            res = one_run(args.workload, seed, bench["run_seconds"])
            results.append(res)
            print(f"set {k + 1} seed {seed}: " + " ".join(
                f"{m}={v['value']:.6g}" for m, v in res["metrics"].items()), flush=True)
        sets.append(results)

    agree = True
    shares = []
    for k, results in enumerate(sets):
        if not all(r["correct"] for r in results):
            print(f"set {k + 1}: a run reported incorrect output")
            agree = False
        shares.append({r["failed"] / r["attempted"] for r in results})
    if len(set().union(*shares)) != 1:
        print(f"failed shares differ: {shares}")
        agree = False
    print(f"failed share: {sorted(set().union(*shares))}")

    print(f"{'metric':18} {'set':>3} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>7} {'bound':>6}")
    for metric in bench["end_to_end"]:
        name, bound = metric["name"], metric["bound"]
        stats = [summary([r["metrics"][name]["value"] for r in results]) for results in sets]
        for k, s in enumerate(stats):
            ok = s["spread"] <= bound
            agree &= ok
            print(f"{name:18} {k + 1:>3} {s['median']:12.6g} {s['q1']:12.6g} {s['q3']:12.6g} "
                  f"{s['spread']:7.3f} {bound:6.3f}{'' if ok else '  SPREAD OVER BOUND'}")
        a, b = stats[0]["median"], stats[1]["median"]
        worse = (b - a) / a if metric["better"] == "lower" else (a - b) / a
        ok = abs(worse) <= bound
        agree &= ok
        print(f"{name:18}  second median worse by {worse:+.3f}{'' if ok else '  OVER BOUND'}")
    print("AGREE" if agree else "DISAGREE")
    sys.exit(0 if agree else 1)


if __name__ == "__main__":
    main()
