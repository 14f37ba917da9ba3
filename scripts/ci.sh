#!/usr/bin/env bash
# Full verification battery.  BENCH RUNS FIRST (VERDICT r8 #8 / BASELINE
# §d lesson: the pytest suite's JVM churn + page-cache pressure inflates
# bench numbers measured after it — the r3 64.3s-vs-38.8s table), then
# the correctness battery in fastest-feedback order.
# Usage: bash scripts/ci.sh [sf_dir]   (default oracle scale: sf0.01)
set -euo pipefail
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.01}

echo "== bench (sf0.1, FIRST — before pytest churn) =="
python bench.py 2>/dev/null | tail -1

echo "== pytest =="
python -m pytest tests/ -q

echo "== perfbench self-tests (tracer patches the dialect/api translate aliases) =="
python -m pytest perfbench -q

echo "== oracle differential (selfcheck @ ${SF}) =="
python scripts/selfcheck.py "${SF}" 2>/dev/null | tail -3

echo "== plan audit (anti-pattern sweep) =="
python scripts/plan_audit.py 2>/dev/null | tail -2

echo "== dialect self-composition fuzz (guard-class regression leg) =="
python scripts/fuzz_dialect.py --self-only 2>/dev/null | tail -2

echo "== registry window placement =="
python scripts/registry_window.py 2>/dev/null | tail -3
