#!/usr/bin/env python3
"""Runs one workload once per seed and prints, for each end-to-end metric,
the median and the quartile spread (Q3 - Q1) / median.

    python3 perfbench/spread.py <workload> <seconds> <seed> [<seed> ...]
"""
import json
import statistics
import subprocess
import sys
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"


def main():
    workload, seconds, seeds = sys.argv[1], sys.argv[2], sys.argv[3:]
    values = {}
    for seed in seeds:
        out = subprocess.run(
            [sys.executable, str(RUN), "--workload", workload, "--seed", seed,
             "--seconds", seconds, "--trace", "0"],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True)
        r = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: correct={r['correct']} failed={r['failed']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
        for k, v in r["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, xs in values.items():
        med = statistics.median(xs)
        if len(xs) >= 2:
            q1, _, q3 = statistics.quantiles(xs, n=4)
            print(f"{k}: median {med:.4g} spread {(q3 - q1) / med:.3f}")


if __name__ == "__main__":
    main()
