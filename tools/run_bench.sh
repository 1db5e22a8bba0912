#!/bin/bash
# Benchmark fast path (no sbt startup): compile once, run graft.Bench
# directly against the Spark jars. Prints the JSON result lines and
# writes BENCH_LAST.json in the repo root.
# Usage: tools/run_bench.sh [sfdir] [cpus]
set -e
SF=${1:-/root/testdata/sf0.1}
CPUS=${2:-32}
cd "$(dirname "$0")/.."
sbt -batch compile -error
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="$CPUS" \
java $ADD_OPENS -Xmx48g \
  -cp "/opt/spark/jars/*:target/scala-2.13/classes" graft.Bench
