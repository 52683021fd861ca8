#!/usr/bin/env python3
"""Run a workload on several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload point_read --seeds 1-10 [--trace 0]

For every metric it prints the median of the runs and the distance between
the first and third quartile as a share of that median (the benchmark's
steadiness test: a metric is steady when this share stays below a third of
its bound in BENCHMARK.json). Runs go one after another, never in parallel.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds(spec):
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--seconds", default=None)
    args = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    seconds = args.seconds or str(bench["run_seconds"])
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values, bad = {}, []
    for s in seeds(args.seeds):
        r = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"),
                            "--workload", args.workload, "--seed", str(s),
                            "--seconds", seconds, "--trace", args.trace],
                           stdout=subprocess.PIPE, text=True)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            bad.append((s, "exit %d" % r.returncode))
            continue
        line = json.loads(lines[-1])
        if not line["correct"]:
            bad.append((s, "incorrect"))
        for k, m in line["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print("seed %d: %s" % (s, {k: m["value"] for k, m in line["metrics"].items()}),
              flush=True)
    for k, xs in values.items():
        xs = [x for x in xs if x is not None]
        if len(xs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        share = (q3 - q1) / med if med else float("inf")
        b = bounds.get(k)
        verdict = "" if b is None else ("  ok" if share < b / 3 else "  WIDE (bound %.2f)" % b)
        print("%-36s median %14.4f  iqr/median %.4f%s" % (k, med, share, verdict))
    for s, why in bad:
        print("seed %d: %s" % (s, why))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
