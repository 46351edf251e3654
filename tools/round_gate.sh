#!/usr/bin/env bash
# The full pre-round-close gate, in dependency order (see
# .claude/skills/verify/SKILL.md for the rationale of each step).
# Usage: bash tools/round_gate.sh [sf_dir]   (default /root/testdata/sf0.01)
set -euo pipefail
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.01}"

echo "== 1/7 registry structure and driver window (no Spark, seconds)"
python -m pytest tests/test_plans.py -q -p no:cacheprovider \
    -k "test_registry_structure or test_driver_window_integrity" 2>&1 | tail -1

echo "== 2/7 full-registry vanilla sweep (the canonical correctness gate)"
python tools/verify_local.py --vanilla "$SF" 2>&1 | tr '\r' '\n' \
    | grep -E "queries checked"

echo "== 3/7 thorough codec fuzz (1000 Hypothesis examples)"
SPARK_GRAFT_HYP_EXAMPLES=1000 python -m pytest tests/test_properties.py \
    -q -k "avro or pdf or warc or cdx or flac" 2>&1 | tail -1

echo "== 4/7 registry-wide plan audits (scale killers + schema contract)"
python -m pytest tests/test_plans.py -q 2>&1 | tail -1

echo "== 5/7 whole test suite (the 15 slowest tests, then the summary line)"
python -m pytest tests/ -q --durations=15 2>&1 | tr '\r' '\n' \
    | sed -n '/slowest 15 durations/,$p'

echo "== 6/7 benchmark self-test (names, units, seeds, corrupted-output check)"
python3 perfbench/selftest.py 2>&1 | tail -1

echo "== 7/7 bench (diff against git show HEAD:BENCH_full.json; re-measure"
echo "   outliers ISOLATED before believing any regression — +-25% ambient)"
python bench.py
