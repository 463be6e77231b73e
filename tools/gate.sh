#!/usr/bin/env bash
# One-command round-close gate (VERDICT r9 #5): sbt test + Verify +
# oracle type lint + type-strict oracle compare + determinism double-run
# + bench stall triage, in sequence, exit non-zero on the first red.
#
# Usage:            tools/gate.sh           # full gate incl. sf0.1 bench
#   RUN_BENCH=0     tools/gate.sh           # skip the ~4 min bench leg
#   SF_SMALL=...    override the Verify/compare scale (default sf0.01)
#
# Stages:
#   1. sbt test + perfbench/test     — unit specs, benchmark harness
#                                      build and seed self-test
#   2. Verify @ CPUS=3               — Spark outputs + oracle_sql.json
#   3. tools/lint_oracles.py         — no un-Spark-able oracle types
#   4. tools/check.py                — type-strict DuckDB value compare
#   5. Verify @ CPUS=7 + dblrun.py   — partition-count determinism
#   6. Bench @ sf0.1 + benchcmp.py   — per-query stall/regression triage
set -euo pipefail
cd "$(dirname "$0")/.."

SF_SMALL=${SF_SMALL:-/root/testdata/sf0.01}
SF_BENCH=${SF_BENCH:-/root/testdata/sf0.1}
OUT_A=${OUT_A:-/tmp/gate_a}
OUT_B=${OUT_B:-/tmp/gate_b}
RUN_BENCH=${RUN_BENCH:-1}

echo "== gate 1/6: sbt test + perfbench/test"
sbt -batch test
(cd perfbench && sbt -batch perfbench/test)

echo "== gate 2/6: Verify @ CPUS=3 -> $OUT_A"
rm -rf "$OUT_A"
SPARK_GRAFT_CPUS=3 sbt -batch "runMain graft.Verify $SF_SMALL $OUT_A"

echo "== gate 3/6: oracle type lint"
python3 tools/lint_oracles.py "$SF_SMALL" "$OUT_A/oracle_sql.json"

echo "== gate 4/6: type-strict oracle compare"
python3 tools/check.py "$SF_SMALL" "$OUT_A"

echo "== gate 5/6: determinism double-run @ CPUS=7 -> $OUT_B"
rm -rf "$OUT_B"
SPARK_GRAFT_CPUS=7 sbt -batch "runMain graft.Verify $SF_SMALL $OUT_B"
python3 tools/dblrun.py "$OUT_A" "$OUT_B"

echo "== gate 6/6: bench + stall triage"
if [ "$RUN_BENCH" = 1 ]; then
  SPARK_GRAFT_SF_DIR="$SF_BENCH" SPARK_GRAFT_CPUS=32 \
    sbt -batch "runMain graft.Bench"
  python3 tools/benchcmp.py BENCH_FULL.json BENCH_REF.json
else
  echo "   skipped (RUN_BENCH=0)"
fi

echo "GATE GREEN"
