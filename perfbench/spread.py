#!/usr/bin/env python3
"""Run-to-run spread of benchmark results.

    python3 perfbench/spread.py RESULTS.jsonl [RESULTS.jsonl ...]

Each file holds the last stdout line of several runs of one workload (one
JSON object per line). For every metric it prints the median and the
interquartile range (``statistics.quantiles(n=4)``) as a share of the
median, next to the bound in BENCHMARK.json.
"""

from __future__ import annotations

import json
import os
import statistics
import sys


def spread(values: list[float]) -> tuple[float, float]:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("nan")


def main(paths: list[str]) -> int:
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as f:
        bounds = {m["name"]: m.get("bound") for m in json.load(f)["end_to_end"]}
    for path in paths:
        with open(path) as f:
            runs = [json.loads(line) for line in f if line.strip()]
        bad = sum(1 for r in runs if not r["correct"] or r["failed"])
        print(f"{path}: {len(runs)} runs, {bad} incorrect")
        for name in runs[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in runs]
            med, iqr = spread(vals)
            print(f"  {name:28s} median {med:14.4f}  iqr/median {iqr:7.4f}"
                  f"  bound {bounds.get(name)}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
