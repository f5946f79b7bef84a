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
echo "=== fixtures ==="
# staged files carry their doc id in the file name, read back only through
# BinaryIngest (readPerDoc / docIdOf): a hand-rolled path regex elsewhere
# in src/main fails the gate
stray=$(grep -rlF 'regexp_extract(col("path")' src/main/scala \
  | grep -vx 'src/main/scala/graft/sources/BinaryIngest.scala' || true)
[ -z "$stray" ] || { echo "regexp_extract(col(\"path\") outside sources/BinaryIngest.scala: $stray"; exit 1; }
echo "ok"
echo "=== codecs ==="
# one image decoder and one PCM decoder, both in operators.Multimodal
# (decodeImage, decodeWavSamples): a second ImageIO.read/getImageReaders
# or AudioSystem.getAudioInputStream call site in src/main fails the gate
codecs='ImageIO\.(read|getImageReaders)\(|AudioSystem\.getAudioInputStream\('
img=$(grep -rhoE 'ImageIO\.(read|getImageReaders)\(' src/main/scala | wc -l)
pcm=$(grep -rhoF 'AudioSystem.getAudioInputStream(' src/main/scala | wc -l)
[ "$img" -le 1 ] && [ "$pcm" -le 1 ] || {
  echo "$img image and $pcm PCM decode call sites (at most one each):"
  grep -rnE "$codecs" src/main/scala; exit 1; }
echo "ok"
echo "=== vectors ==="
# one nearest-centroid kernel and one JVM cosine, both in graft.functions
# (NearestCentroids, TextHashes.cosineSim): a literal-centroid argmax
# (`struct(cosine(` / `struct(cosine6(`) or a second hand-written cosine
# loop in src/main fails the gate
argmax=$(grep -rnE 'struct\(cosine6?\(' src/main/scala || true)
loops=$(grep -rhE 'math\.sqrt\(n[a-z]\) \* math\.sqrt\(n[a-z]\)' src/main/scala | wc -l)
[ -z "$argmax" ] && [ "$loops" -le 1 ] || {
  echo "literal-centroid argmax terms (none allowed): ${argmax:-none}"
  echo "$loops cosine loops (at most one):"
  grep -rnE 'math\.sqrt\(n[a-z]\) \* math\.sqrt\(n[a-z]\)' src/main/scala; exit 1; }
echo "ok"
echo "=== tokens ==="
# one whitespace tokenizer (GraftFunctions.words) and one compiled n-gram
# kernel (Ngrams): a second `split(trim(...), "\\s+")` in src/main fails the
# gate, and so does a `transform(sequence(` lambda beyond these survivors:
#   operators/TextAnalysis.scala 1: the Luhn fold of qLuhn, a digit fold
#     over a 16-digit number whose oracle replays the same lambda
#   operators/Dedup.scala 2: the MinHash band keys (8 slices of a
#     32-long signature per doc) and winnowing's sliding window minimum
#     over the span hashes, neither a token n-gram (the MinHash agreement
#     count is a `filter(sequence(`, outside this pattern)
#   sources/OcrTrained.scala 1: the 35-bit glyph signature unpack
tok=$(grep -rhoE 'split\(trim\(.*\), "\\\\s\+"\)' src/main/scala | wc -l)
lambdas=$(grep -rlZ 'transform(' src/main/scala | xargs -0 perl -0ne \
  '$n = () = /transform\(\s*sequence\(/g; print "$ARGV $n\n" if $n' | sort)
allowed=$(printf '%s\n' 'src/main/scala/graft/operators/Dedup.scala 2' \
  'src/main/scala/graft/operators/TextAnalysis.scala 1' \
  'src/main/scala/graft/sources/OcrTrained.scala 1')
[ "$tok" -le 1 ] && [ "$lambdas" = "$allowed" ] || {
  echo "$tok whitespace tokenizers (at most one):"
  grep -rnE 'split\(trim\(.*\), "\\\\s\+"\)' src/main/scala
  echo "transform(sequence( sites per file, expected:"; echo "$allowed"
  echo "found:"; echo "$lambdas"; exit 1; }
echo "ok"
echo "=== staging ==="
# one parquet-file stager (engine.Scratch: stageFiles / stageParts) and one
# wave-replay harness (StreamingJobs.replayWaves): a createTempDirectory(
# in src/main outside engine/Scratch.scala, or a second
# writeStream.format("parquet") sink, fails the gate
tmpdirs=$(grep -rlF 'createTempDirectory(' src/main/scala \
  | grep -vx 'src/main/scala/graft/engine/Scratch.scala' || true)
sinks=$(grep -rhoF 'writeStream.format("parquet")' src/main/scala | wc -l)
[ -z "$tmpdirs" ] && [ "$sinks" -le 1 ] || {
  echo "createTempDirectory( outside engine/Scratch.scala: ${tmpdirs:-none}"
  echo "$sinks parquet stream sinks (at most one):"
  grep -rnF 'writeStream.format("parquet")' src/main/scala; exit 1; }
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
