#!/usr/bin/env bash
# Pre-commit gate (VERDICT r6 item 2): a commit that fails this script
# must not land. Chains Test/compile (main + test sources), an sf0.001
# smoke over one query per operator family (graft.tools.Smoke, exits
# non-zero on any query failure) and one sf0.001 run of the plasticc
# harness benchmark, whose forest trains through the MLlib shim in
# org.apache.spark.ml (a Spark upgrade that moves those internals fails
# here). Run from the repo root:
#
#   tools/gate.sh            # compile + family-slice smoke + plasticc
#   SPARK_GRAFT_QUERIES=all tools/gate.sh   # full 200+-query smoke
set -euo pipefail
cd "$(dirname "$0")/.."
echo "[gate] sbt Test/compile"
sbt -batch Test/compile > /tmp/gate_compile.log 2>&1 || {
  tail -30 /tmp/gate_compile.log; echo "[gate] COMPILE FAILED"; exit 1; }
echo "[gate] smoke @ sf0.001"
sbt -batch "runMain graft.tools.Smoke /root/testdata/sf0.001" \
  > /tmp/gate_smoke.log 2>&1 || {
  tail -40 /tmp/gate_smoke.log; echo "[gate] SMOKE FAILED"; exit 1; }
grep "\[smoke\] OK" /tmp/gate_smoke.log
echo "[gate] plasticc @ sf0.001"
# the CLI's default data dir is the sf0.001 fixture
sbt -batch "runMain graft.harness.BenchmarkRun plasticc" \
  > /tmp/gate_plasticc.log 2>&1 || {
  tail -40 /tmp/gate_plasticc.log; echo "[gate] PLASTICC FAILED"; exit 1; }
echo "[gate] PASS"
