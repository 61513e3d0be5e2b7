#!/usr/bin/env python3
"""Run the benchmark once per seed and summarise each metric across runs:
median, first and third quartile, and the quartile spread as a share of
the median (the benchmark's steadiness check).

    python3 perfbench/spread.py --workload maintain --seeds 1-10 [--trace 1] \
        [--out runs.jsonl]

Run it from the root of a checkout. Each run's two output lines are
appended to --out as one JSON object, so sets of runs can be compared
later (for example a parent commit against a change, on the same seeds).
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

import run
import stats


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=run.WORKLOADS)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,7")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    values = {}
    for s in seeds(a.seeds):
        p = subprocess.run([sys.executable, os.path.join(run.HERE, "run.py"),
                            "--workload", a.workload, "--seed", str(s),
                            "--seconds", str(a.seconds), "--trace", str(a.trace)],
                           capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or len(lines) < 2:
            sys.stderr.write(p.stderr[-3000:])
            sys.exit(f"seed {s}: run failed with {p.returncode}")
        detail, result = json.loads(lines[-2]), json.loads(lines[-1])
        if a.out:
            with open(a.out, "a") as fh:
                fh.write(json.dumps({"detail": detail, "result": result}) + "\n")
        shown = result["metrics"] if a.trace == 0 else {}
        print(f"seed {s}: correct={result['correct']} attempted={result['attempted']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in shown.items()), flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, xs in values.items():
        if len(xs) >= 2:
            q1, _, q3 = statistics.quantiles(xs, n=4)
            print(f"{k:40s} median={stats.median(xs):.4g} q1={q1:.4g} q3={q3:.4g} "
                  f"spread={stats.quartile_spread(xs):.3f}")


if __name__ == "__main__":
    main()
