#!/usr/bin/env bash
# Pre-handoff gate: the exact driver t2 correctness check, locally.
# Run this before the round's final commit — a red query here is a red
# round there. Exits non-zero on any failure.
#
# usage: tools/gate.sh [sfDir] [outDir]
set -euo pipefail
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.01}"
OUT="${2:-/tmp/graft_gate}"
echo "[gate] Verify on $SF -> $OUT"
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-16}" \
  sbt -batch "runMain graft.Verify $SF $OUT" 2>&1 |
  grep -E "\[verify\]|^\[success|^\[error\]\s+\(run" || true
echo "[gate] DuckDB oracle compare"
RES="$(python3 tools/check_oracles.py "$OUT" "$SF")"
echo "$RES" | grep -E "^FAIL|pass / " || true
echo "$RES" | grep -q " 0 fail" || { echo "[gate] RED"; exit 1; }
# a tree with uncommitted changes is not the HEAD commit: say so
REV="$(git rev-parse --short HEAD 2>/dev/null || true)"
[ -n "$(git status --porcelain 2>/dev/null)" ] && REV="$REV-dirty"
echo "[gate] GREEN $REV $(date -u +%FT%TZ)"
