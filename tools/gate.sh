#!/usr/bin/env bash
# Pre-commit gate: the minimum proof that HEAD is shippable.
# Usage: tools/gate.sh [--full]
#   default: Test/compile + benchmark compile + EntrySmoke + one
#            graft.Analyze profile + the dialect suites,
#            MatchRecognizeSpec, ParquetSchemaSpec and
#            FunctionRegistrySpec
#            (~2 min on 4 cores; the suites step ~50 s)
#   --full : also runs the whole ScalaTest suite (~10 min on 4 cores)
# Rounds 6 and 7 shipped a non-compiling HEAD; nothing in the round
# protocol ran the compiler before snapshot. This script is that gate —
# run it before EVERY commit.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "[gate] sbt Test/compile"
sbt -batch "Test/compile" > /tmp/gate_compile.log 2>&1 || {
  echo "[gate] COMPILE FAILED"; tail -30 /tmp/gate_compile.log; exit 1; }

# perfbench/build.sbt compiles ../src/main/scala with the benchmark's
# own sources, so a main-code change can break the benchmark build
# while the engine build stays green.
echo "[gate] perfbench compile"
(cd perfbench && sbt -batch compile) > /tmp/gate_perfbench.log 2>&1 || {
  echo "[gate] PERFBENCH COMPILE FAILED"; tail -30 /tmp/gate_perfbench.log; exit 1; }

echo "[gate] EntrySmoke"
rows=$(sbt -batch 'runMain graft.EntrySmoke' 2>&1 | grep -oP 'ENTRY_ROWS=\K\d+' || echo 0)
if [ "${rows:-0}" -le 0 ]; then
  echo "[gate] ENTRY SMOKE FAILED (rows=$rows)"; exit 1
fi
echo "[gate] entry rows=$rows"

# graft.Analyze writes the EXPLAIN ANALYZE profile (QueryProfile) to a
# file; no suite runs that main, so check that its artifact carries
# stage lines and the scan's row count
echo "[gate] Analyze"
rm -rf /tmp/gate_analyze
sbt -batch "runMain graft.Analyze /root/testdata/sf0.001 /tmp/gate_analyze q1_pricing_summary" \
  > /tmp/gate_analyze.log 2>&1 || {
  echo "[gate] ANALYZE FAILED"; tail -20 /tmp/gate_analyze.log; exit 1; }
profile=/tmp/gate_analyze/q1_pricing_summary.metrics.txt
if ! grep -qE '^stage [0-9]+: tasks=' "$profile" 2>/dev/null ||
   ! grep -qE 'Scan parquet.*numOutputRows=' "$profile"; then
  echo "[gate] ANALYZE PROFILE INCOMPLETE"; cat "$profile" 2>/dev/null; tail -20 /tmp/gate_analyze.log; exit 1
fi

# the SQL front end: dialect vectors, the translate() properties and
# the MATCH_RECOGNIZE operator spec (its builders all run through
# MatchRecognizeSql); the driver-side parquet schema resolution
# every table read goes through; and the one function registry every
# session gets
echo "[gate] dialect suites"
sbt -batch "testOnly graft.DialectSpec graft.PropertiesSpec graft.MatchRecognizeSpec graft.ParquetSchemaSpec graft.FunctionRegistrySpec" > /tmp/gate_dialect.log 2>&1 || {
  echo "[gate] DIALECT SUITES FAILED"; grep -E '\*\*\* FAILED' /tmp/gate_dialect.log | head -20
  tail -20 /tmp/gate_dialect.log; exit 1; }

if [ "${1:-}" = "--full" ]; then
  echo "[gate] sbt test"
  sbt -batch test > /tmp/gate_test.log 2>&1 || {
    echo "[gate] TESTS FAILED"; grep -E 'TESTS? FAILED|\*\*\* FAILED' /tmp/gate_test.log | head -20
    tail -20 /tmp/gate_test.log; exit 1; }
  tail -5 /tmp/gate_test.log
fi
echo "[gate] GREEN"
