#!/usr/bin/env bash
# Full local gate: compile, tests, end-to-end verify + DuckDB oracle.
#   scripts/check_all.sh [sfDir]    (default /root/testdata/sf0.001)
set -euo pipefail
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.001}"
OUT="$(mktemp -d /tmp/graft-check.XXXXXX)"

echo "== compile + test =="
sbt -batch test

echo "== verify @ $SF =="
sbt -batch "runMain graft.Verify $SF $OUT"

echo "== oracle =="
python3 scripts/oracle_check.py "$SF" "$OUT"

echo "== table-layer drive =="
# run first, THEN filter for display: piping straight into grep would (a)
# fail the gate under pipefail when the demo succeeds but the log format
# drifts, and (b) swallow the actual error text when the demo fails
DEMO_OUT=$(sbt -batch "runMain graft.tools.TableDemo" 2>&1) || {
  echo "TableDemo FAILED:"; echo "$DEMO_OUT" | tail -40; exit 1; }
echo "$DEMO_OUT" | grep -E "^[A-Z]" || true
