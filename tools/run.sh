#!/bin/bash
# Dev-loop runner: java directly against compiled classes (skip sbt startup).
# Usage: tools/run.sh <mainClass> [args...]   e.g. tools/run.sh graft.Verify /root/testdata/sf0.01 /tmp/vout
set -e
cd "$(dirname "${BASH_SOURCE[0]}")/.."
MAIN=$1; shift
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS -Xmx${SPARK_DRIVER_MEM:-8g} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:src/main/resources:/opt/spark/jars/*" \
  "$MAIN" "$@"
