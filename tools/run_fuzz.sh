#!/bin/bash
# Run the graft differential fuzzer (graft.Fuzz) from the packaged jar
# without going through sbt (sbt holds a single project lock; campaigns
# run for hours and must not block the dev loop).
#
# Usage: tools/run_fuzz.sh <sfDir> <outFile> <seedStart> <count> [cpus]
# Requires: sbt -batch package   (refreshes target/scala-2.13/*.jar)
set -euo pipefail
SF_DIR=$1; OUT=$2; SEED=$3; COUNT=$4; CPUS=${5:-8}
REPO=$(cd "$(dirname "$0")/.." && pwd)
# FUZZ_JAR override: snapshot the jar before long campaigns so a concurrent
# `sbt package` can't swap classes under a running JVM
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
  graft.Fuzz "$SF_DIR" "$OUT" "$SEED" "$COUNT" \
  2> >(grep --line-buffered -Ev 'WARN|INFO' >&2) < /dev/null
