#!/usr/bin/env python3
"""Steadiness check: run one workload N times, each with another seed, and
print every metric's median, quartiles and spread ((q3 - q1) / median,
with quartiles as statistics.quantiles(values, n=4) gives them) beside the
metric's bound from BENCHMARK.json.

    python3 perfbench/steady.py --workload pk_serving --runs 10
    python3 perfbench/steady.py --workload corpus_dedup --runs 5 --first-seed 100

Run from the repository root. Each run's host-noise line (CPU steal, GC,
peak heap) is printed, so a run hit by a steal burst is visible; no run
is dropped.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values, bad = {}, 0
    for i in range(a.runs):
        seed = a.first_seed + i
        proc = subprocess.run(
            bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        lines = proc.stdout.strip().splitlines()
        host = next((l.strip() for l in lines if l.strip().startswith("host:")), "")
        res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
        if proc.returncode != 0 or res is None or not res["correct"]:
            bad += 1
            print("seed %d: FAILED (exit %d)" % (seed, proc.returncode))
            continue
        print("seed %d: %s  %s" % (seed, " ".join(
            "%s=%.4g" % (k, v["value"]) for k, v in res["metrics"].items()
            if k in bounds), host))
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print("%-36s %12s %12s %12s %8s %6s" % ("metric", "median", "q1", "q3",
                                           "spread", "bound"))
    for k, xs in values.items():
        if len(xs) < 2:
            continue
        med, q1, q3, sp = stats.spread(xs)
        b = bounds.get(k)
        flag = "" if b is None else ("  ok" if sp < b / 3 else "  WIDE")
        print("%-36s %12.4f %12.4f %12.4f %8.4f %6s%s" % (
            k, med, q1, q3, sp, "" if b is None else b, flag))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
