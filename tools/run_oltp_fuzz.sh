#!/bin/bash
# Run the OLTP differential fuzzer (graft.OltpFuzzRun) from the packaged
# jar without sbt (campaigns run long; sbt holds a single project lock).
#
# Usage: tools/run_oltp_fuzz.sh <outFile> <seedStart> <count> [cpus]
# Requires: sbt -batch package
set -euo pipefail
OUT=$1; SEED=$2; COUNT=$3; CPUS=${4:-8}
REPO=$(cd "$(dirname "$0")/.." && pwd)
JAR=${FUZZ_JAR:-$REPO/target/scala-2.13/dustspark_2.13-0.1.0.jar}
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
export SPARK_GRAFT_CPUS=$CPUS
exec java $ADD_OPENS \
  -Xmx${FUZZ_MEM:-8g} -XX:ReservedCodeCacheSize=512m \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$JAR:/opt/spark/jars/*" \
  graft.OltpFuzzRun "$OUT" "$SEED" "$COUNT" \
  2> >(grep --line-buffered -Ev 'WARN|INFO' >&2) < /dev/null
