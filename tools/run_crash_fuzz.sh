#!/bin/bash
# Run the journal crash-replay fuzzer (graft.CrashReplayFuzz) from the
# packaged jar: each seed executes an OltpFuzz batch in a CHILD engine
# JVM, SIGKILLs it at a random statement index, reopens (journal
# recovery), and dumps journal + final state for tools/check_crash.py.
#
# Usage: tools/run_crash_fuzz.sh <outFile> <seedStart> <count>
# Requires: sbt -batch package (snapshot the jar to /tmp for long runs)
set -euo pipefail
OUT=$1; SEED=$2; COUNT=$3
REPO=$(cd "$(dirname "$0")/.." && pwd)
JAR=${GRAFT_JAR:-$REPO/target/scala-2.13/dustspark_2.13-0.1.0.jar}
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec env GRAFT_JAR="$JAR" java $ADD_OPENS \
  -Xmx${CRASH_MEM:-6g} -XX:ReservedCodeCacheSize=512m \
  -Dspark.ui.enabled=false \
  -cp "$JAR:/opt/spark/jars/*" \
  graft.CrashReplayFuzz "$OUT" "$SEED" "$COUNT" \
  2> >(grep --line-buffered -Ev 'WARN|INFO' >&2) < /dev/null
