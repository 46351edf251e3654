#!/usr/bin/env bash
# The full pre-round-close gate, in dependency order (see
# .claude/skills/verify/SKILL.md for the rationale of each step).
# Usage: bash tools/round_gate.sh [sf_dir]   (default /root/testdata/sf0.01)
set -euo pipefail
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.01}"

echo "== 1/8 registry structure, driver window, snapshot normalisation,"
echo "   the one checkpoint call, no function defined twice,"
echo "   class-data-sharing archive (no Spark, seconds)"
python -m pytest tests/test_plans.py tests/test_session.py -q -p no:cacheprovider \
    -k "test_registry_structure or test_driver_window_integrity or test_snapshot_normalise or test_materialize_is_the_only or test_no_function_is_defined_twice or test_zip_importer or (test_cds and not test_cds_driver)" \
    2>&1 | tail -1

echo "== 2/8 Python worker daemon, archive use by driver processes, then sinks:"
echo "   fault replays, merge_upsert contract, jobs per batch, the streaming"
echo "   sink wrappers, the MinHash index (~7 min)"
python -m pytest tests/test_session.py -q -x -p no:cacheprovider \
    -k "test_worker_task or test_python_udf or test_cds_driver" 2>&1 | tail -1
python -m pytest tests/test_sinks.py tests/test_models_io.py -q \
    -x -p no:cacheprovider -k "test_sinks or merge_upsert" 2>&1 | tail -1
python -m pytest tests/test_streaming.py -q -x -p no:cacheprovider -k sink \
    2>&1 | tail -1
python -m pytest tests/test_dedup.py -q -x -p no:cacheprovider -k minhash \
    2>&1 | tail -1

echo "== 3/8 full-registry vanilla sweep (the canonical correctness gate)"
python tools/verify_local.py --vanilla "$SF" 2>&1 | tr '\r' '\n' \
    | grep -E "queries checked"

echo "== 4/8 thorough codec fuzz (1000 Hypothesis examples)"
SPARK_GRAFT_HYP_EXAMPLES=1000 python -m pytest tests/test_properties.py \
    -q -k "avro or pdf or warc or cdx or flac" 2>&1 | tail -1

echo "== 5/8 registry-wide plan audits (scale killers + schema contract)"
python -m pytest tests/test_plans.py -q 2>&1 | tail -1

echo "== 6/8 whole test suite (the 15 slowest tests, then the summary line)"
python -m pytest tests/ -q --durations=15 2>&1 | tr '\r' '\n' \
    | sed -n '/slowest 15 durations/,$p'

echo "== 7/8 benchmark self-test (names, units, seeds, corrupted-output check)"
python3 perfbench/selftest.py 2>&1 | tail -1

echo "== 8/8 bench (diff against git show HEAD:BENCH_full.json; re-measure"
echo "   outliers ISOLATED before believing any regression — +-25% ambient)"
python bench.py
