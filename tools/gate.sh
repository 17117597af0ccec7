#!/usr/bin/env bash
# The full local correctness + perf gate, exactly as the driver runs it.
# Usage: tools/gate.sh [sf_dir] [cpus]
set -euo pipefail
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.01}"
CPUS="${2:-8}"
OUT="/tmp/graft_gate_$$"

echo "== compile + test =="
sbt -batch compile test

# PLANS.md is generated at sf0.01 whatever SF the gate runs; every row a
# fresh audit shares with it must be identical (tools/plans_check.py)
echo "== PLANS.md identity (PlanAudit --summary sf0.01) =="
PLANS_FRESH="$(mktemp)"
trap 'rm -f "$PLANS_FRESH"' EXIT
sbt -batch "runMain graft.tools.PlanAudit --summary /root/testdata/sf0.01" > "$PLANS_FRESH"
python3 tools/plans_check.py PLANS.md "$PLANS_FRESH"

echo "== verify dump ($SF, CPUS=$CPUS) =="
rm -rf "$OUT"
SPARK_GRAFT_CPUS="$CPUS" sbt -batch "runMain graft.Verify $SF $OUT"

echo "== DuckDB differential =="
python3 tools/compare.py "$SF" "$OUT"

# The timed bench runs AQE ON (Bench.scala default) while the dump above
# validates the static-plan config — without this second pass the
# adaptive configuration the judge times is never oracle-checked and can
# silently go stale after a plan-affecting change.
echo "== verify dump, AQE ON (the bench's timed config) =="
rm -rf "${OUT}_aqe"
SPARK_GRAFT_AQE=1 SPARK_GRAFT_CPUS="$CPUS" \
  sbt -batch "runMain graft.Verify $SF ${OUT}_aqe"

echo "== DuckDB differential, AQE ON =="
python3 tools/compare.py "$SF" "${OUT}_aqe"

echo "== bench (sf0.1) =="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  SPARK_GRAFT_BENCH_OUT=/tmp/graft_gate_bench.json \
  sbt -batch "runMain graft.Bench"
python3 -c "import json; d=json.load(open('/tmp/graft_gate_bench.json')); print('BENCH total', round(d['value'],1), 's over', len(d['queries']), 'queries')"
