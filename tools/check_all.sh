#!/bin/sh
# Full local gate: unit+oracle tests, the driver-contract simulation,
# and the sf0.1 benchmark.  Mirrors what the round driver runs.
set -e
cd "$(dirname "$0")/.."
# tier-1 (ROADMAP.md): the same env, timeout and flags
SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
    timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider
(cd /tmp && python "$OLDPWD/tools/driver_sim.py")
python bench.py
# perfbench, traced: each workload's last line must report a correct run
for w in etl_fresh query_mix; do
    python3 perfbench/run.py --workload "$w" --seed 711 --seconds 10 --trace 1 \
        | tail -n 1 | grep -q '"correct": true' \
        || { echo "perfbench $w: not correct" >&2; exit 1; }
done
