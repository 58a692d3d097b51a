#!/usr/bin/env bash
# One-command verification: tests + DuckDB oracles + bench smoke.
set -euo pipefail
cd "$(dirname "$0")/.."
echo "== pytest (the ROADMAP tier-1 command, verbatim) =="
export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider
echo "== DuckDB oracles (sf0.01) =="
python tools/check_oracle.py /root/testdata/sf0.01
echo "== bench (driver contract) =="
python bench.py
