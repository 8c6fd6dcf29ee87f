#!/usr/bin/env bash
# The local gate: a clean compile of the program and its tests with no
# compiler warning, every declared query oracle-compared against DuckDB at
# sf0.01, its job and stage counts checked against plans/jobs.json (counted
# at 4 cores), and the full ScalaTest suite. Any warning, any FAILING row,
# any rise in a query's jobs or stages, or any failed test is a stop-ship.
#
# Usage: tools/local_gate.sh [sfDir]   (default /root/testdata/sf0.01)
set -euo pipefail
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.01}"
OUT="$(mktemp -d /tmp/graft-gate.XXXXXX)"

echo "== graft local gate: clean Test/compile, zero warnings =="
sbt -batch clean Test/compile > "$OUT/compile.log" 2>&1 \
  || { tail -20 "$OUT/compile.log"; exit 1; }
# build.sbt sets -deprecation -feature, so each warning names its line
if grep -E '^\[warn\] .*\.scala:[0-9]+' "$OUT/compile.log"; then
  echo "STOP-SHIP: compiler warnings (above)"; exit 1
fi

echo "== graft local gate: verify+oracle at $SF =="
SPARK_GRAFT_CPUS=4 sbt -batch "runMain graft.Verify $SF $OUT" > "$OUT/verify.log" 2>&1 \
  || { tail -20 "$OUT/verify.log"; exit 1; }
if grep "\[verify\]" "$OUT/verify.log"; then
  echo "STOP-SHIP: queries failed to dump (above)"; exit 1
fi
python3 tools/compare.py "$SF" "$OUT" | tee "$OUT/compare.out"
if ! tail -1 "$OUT/compare.out" | grep -q " 0 FAILING"; then
  echo "STOP-SHIP: oracle mismatches (see above)"; exit 1
fi
if ! tail -1 "$OUT/compare.out" | grep -q "; 0 ROSE"; then
  echo "STOP-SHIP: job or stage counts rose over plans/jobs.json (see above)"; exit 1
fi

echo "== graft local gate: sbt test =="
rc=0
sbt -batch test > "$OUT/test.log" 2>&1 || rc=$?
# per-suite durations, summed from the -oD per-test lines
python3 tools/suite_times.py "$OUT/test.log" | tee "$OUT/suite_times.md"
if [ "$rc" -ne 0 ]; then
  grep -E "\*\*\* (FAILED|ABORTED) \*\*\*|^\[info\]   [^+ ]|Failed tests" "$OUT/test.log" \
    | tail -20; exit 1
fi
grep -E "Tests: succeeded" "$OUT/test.log" | tail -1

echo "== gate PASSED (artifacts in $OUT) =="
