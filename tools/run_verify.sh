#!/bin/bash
# Local mirror of the driver's correctness gate: run graft.Verify at a
# scale factor, then compare every query result against DuckDB running
# the oracle SQL. Usage: tools/run_verify.sh [sfdir] [outdir]
set -e
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/graft_verify}
cd "$(dirname "$0")/.."
sbt -batch compile -error
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
rm -rf "$OUT"
java $ADD_OPENS -Xmx8g \
  -cp "/opt/spark/jars/*:target/scala-2.13/classes" \
  graft.Verify "$SF" "$OUT" 2>/dev/null | grep -v "^WARN" || true
python3 tools/compare_oracle.py "$SF" "$OUT"
