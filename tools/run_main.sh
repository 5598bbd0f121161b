#!/bin/bash
# Run any graft main from the packaged jar without sbt (frees the single
# sbt project lock for the dev loop; long background runs snapshot the
# jar first via FUZZ_JAR so a rebuild can't swap classes mid-run).
#
# Usage: [FUZZ_JAR=...] [FUZZ_MEM=...] tools/run_main.sh <MainClass> [args...]
set -euo pipefail
MAIN=$1; shift
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
exec java $ADD_OPENS \
  -Xmx${FUZZ_MEM:-16g} -XX:ReservedCodeCacheSize=1g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  ${FUZZ_JAVA_OPTS:-} \
  -cp "$JAR:/opt/spark/jars/*" \
  "graft.$MAIN" "$@" \
  2> >(grep --line-buffered -Ev 'WARN|INFO' >&2) < /dev/null
