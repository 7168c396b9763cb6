#!/usr/bin/env python3
"""Spread report: runs one workload repeatedly and prints, per metric, the
median, quartiles, min/max and the quartile spread as a share of the
median (the figure BENCHMARK.json's bounds are set from).

    python3 graftbench/spread.py --workload W --seeds 1-10 [--seconds 20]
    python3 graftbench/spread.py --workload W --seed 7 --repeat 5

Each run's full result is appended to graftbench/.work/spread.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds_arg(s: str) -> list:
    out = []
    for part in s.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--repeat", type=int, default=1)
    ap.add_argument("--seconds", default="20")
    ap.add_argument("--trace", default="0")
    a = ap.parse_args()
    seeds = a.seeds or [a.seed] * a.repeat
    values, failed = {}, 0
    log = os.path.join(HERE, ".work", "spread.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    for seed in seeds:
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             a.workload, "--seed", str(seed), "--seconds", a.seconds,
             "--trace", a.trace], stdout=subprocess.PIPE, text=True)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            print(f"seed {seed}: run failed (exit {r.returncode})")
            return 1
        res = json.loads(lines[-1])
        with open(log, "a") as f:
            f.write(json.dumps({"workload": a.workload, "seed": seed,
                                **res}) + "\n")
        failed += res["failed"] + (0 if res["correct"] else 1)
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"seed {seed}: " + ", ".join(
            f"{k}={m['value']:.4g}" for k, m in sorted(res["metrics"].items())),
            flush=True)
    print(f"\n{a.workload}: {len(seeds)} runs, failed ops/incorrect runs"
          f" {failed}")
    print(f"{'metric':34} {'median':>12} {'q1':>12} {'q3':>12} {'min':>12}"
          f" {'max':>12} {'iqr/med':>8}")
    for k, xs in sorted(values.items()):
        med = statistics.median(xs)
        q1, _, q3 = (statistics.quantiles(xs, n=4) if len(xs) > 1
                     else (xs[0], None, xs[0]))
        rel = (q3 - q1) / med if med else 0.0
        print(f"{k:34} {med:12.4g} {q1:12.4g} {q3:12.4g} {min(xs):12.4g}"
              f" {max(xs):12.4g} {rel:8.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
