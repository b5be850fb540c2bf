#!/bin/sh
# Run every workload in BENCHMARK.json once, each in its own process.
#   perfbench/run_all.sh [SEED] [TRACE]      (from the repository root)
set -e
seed=${1:-1}
trace=${2:-0}
seconds=$(python3 -c 'import json; print(json.load(open("BENCHMARK.json"))["run_seconds"])')
for w in $(python3 -c 'import json; print(" ".join(w["name"] for w in json.load(open("BENCHMARK.json"))["workloads"]))'); do
    echo "== $w"
    python3 perfbench/run.py --workload "$w" --seed "$seed" --seconds "$seconds" --trace "$trace"
done
