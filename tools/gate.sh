#!/usr/bin/env bash
# Full local replica of the driver's per-round gate:
#   hrbench unit tests -> one checked hr_etl run -> one checked
#   store_queries run -> compile -> scalatest
#   -> Verify@sf0.01 -> DuckDB oracle compare -> Bench@sf0.1
# Usage: tools/gate.sh [--quick]   (--quick skips the bench)
set -euo pipefail
cd "$(dirname "$0")/.."

# the benchmark's pure-part unit tests (generators, stats, report)
python3 -B -m unittest discover -s hrbench/tests 2>&1 | tail -1

# one checked hr_etl pass: the concurrent sinks' answers (DQ rows,
# parquet counts = JDBC counts, report lines) must come out correct
python3 hrbench/run.py --workload hr_etl --seed 1 --seconds 0 --trace 0 \
  | python3 -c 'import json, sys
r = json.loads([l for l in sys.stdin if l.startswith("{")][-1])
print("hr_etl correct:", r["correct"], "failed:", r["failed"])
sys.exit(0 if r["correct"] else 1)'

# one checked store_queries pass: every SnapshotStore commit, read, diff
# and vacuum answer, plus the five corpus queries, must come out correct
python3 hrbench/run.py --workload store_queries --seed 1 --seconds 0 --trace 0 \
  | python3 -c 'import json, sys
r = json.loads([l for l in sys.stdin if l.startswith("{")][-1])
print("store_queries correct:", r["correct"], "failed:", r["failed"])
sys.exit(0 if r["correct"] else 1)'

sbt -batch test 2>&1 | grep -aE "Tests:|TESTS FAILED" | tail -2

# stale outputs from a prior run must never satisfy the compare
rm -rf target/verify_out
if ! SPARK_GRAFT_CPUS=8 sbt -batch \
  "runMain graft.Verify /root/testdata/sf0.01 target/verify_out" \
  > target/verify_run.log 2>&1; then
  tail -5 target/verify_run.log
  echo "verify run crashed"; exit 1
fi
if grep -aE "\[verify\].*failed|\[error\].*\.scala" target/verify_run.log; then
  echo "verify had per-query failures"; exit 1
fi

python3 tools/check_oracle.py /root/testdata/sf0.01 target/verify_out

if [[ "${1:-}" != "--quick" ]]; then
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
    sbt -batch "runMain graft.Bench" 2>&1 | grep -ao '{"metric".*'
fi
