#!/bin/bash
# Local replica of the full round gate: tests, smoke, oracle, bench.
set -e
cd "$(dirname "$0")/.."
echo "=== entry points ==="
# the only mains in src/main are the driver contract (graft.Bench, Verify,
# Smoke) and the diagnostic tools (graft.tools.*): a scratch probe main
# elsewhere fails the gate
stray=$(grep -rlE '^[[:space:]]*def main\(|extends App\b' src/main/scala \
  | grep -vE '^src/main/scala/graft/((Bench|Verify|Smoke)\.scala|tools/)' || true)
[ -z "$stray" ] || { echo "def main outside graft.{Bench,Verify,Smoke} and graft.tools: $stray"; exit 1; }
echo "ok"
echo "=== sbt test ==="
sbt -batch test 2>&1 | grep -E "Tests:|Passed:"
echo "=== benchmark harness build ==="
# graftbench compiles src/main from source, so an API break the tests miss
# fails here (needs SPARK_HOME, as graftbench/run.py does)
(cd graftbench && sbt -batch compile) > /tmp/gate_bench_build.log 2>&1 \
  || { tail -20 /tmp/gate_bench_build.log; exit 1; }
grep '\[success\]' /tmp/gate_bench_build.log | tail -1
echo "=== benchmark harness self-test ==="
# graftbench's checks must still reject wrong answers (a changed snippet
# row, a shifted page, ...) when run on this engine
python3 -m unittest discover -s graftbench/tests > /tmp/gate_bench_selftest.log 2>&1 \
  || { tail -20 /tmp/gate_bench_selftest.log; exit 1; }
tail -1 /tmp/gate_bench_selftest.log
echo "=== smoke (t1) ==="
sbt -batch "runMain graft.Smoke" 2>&1 | grep '\[smoke\]'
echo "=== oracle (t2, sf0.01) ==="
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-8} sbt -batch \
  "runMain graft.Verify /root/testdata/sf0.01 /tmp/gate_vout" > /tmp/gate_verify.log 2>&1
python3 tools/compare.py /root/testdata/sf0.01 /tmp/gate_vout | tail -1
echo "=== bench (sf0.1) ==="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32} \
  sbt -batch "runMain graft.Bench" 2>&1 | grep '"metric"' | tail -1 | sed 's/^\[info\] //'
