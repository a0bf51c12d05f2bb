#!/bin/sh
# Run every workload BENCHMARK.json lists, untraced then traced, for one
# seed: prints each run's end-to-end metrics, then its per-layer metrics.
#   sh perfbench/all.sh [seed]        (from the root of a checkout)
set -e
seed=${1:-1}
workloads=$(python3 -c "import json; print(' '.join(w['name'] for w in json.load(open('BENCHMARK.json'))['workloads']))")
seconds=$(python3 -c "import json; print(json.load(open('BENCHMARK.json'))['run_seconds'])")
for w in $workloads; do
    for trace in 0 1; do
        echo "== $w seed $seed trace $trace"
        python3 perfbench/run.py --workload "$w" --seed "$seed" --seconds "$seconds" --trace "$trace"
    done
done
