#!/usr/bin/env bash
# One-command verification of the whole repo:
#   tests -> benchmark unit tests -> correctness gate (Spark vs DuckDB
#   oracles) at two scales -> bench JSON
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== pytest =="
python -m pytest tests/ -x -q

echo "== benchmark tests (no Spark) =="
python -m pytest perfbench/tests -q

echo "== correctness gate (sf0.001) =="
python tools/check_gate.py /root/testdata/sf0.001

echo "== correctness gate (sf0.01) =="
python tools/check_gate.py /root/testdata/sf0.01

echo "== bench =="
python bench.py

echo "== scaling protocol (slow; uncomment to run) =="
# python tools/run_scaling.py
