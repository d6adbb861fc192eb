#!/usr/bin/env bash
# Run a graft main class with the same JVM flags build.sbt's forked run
# uses, but WITHOUT sbt — lets a main run while sbt holds the build lock
# (e.g. a Verify gate in another terminal). Usage:
#   scripts/run_main.sh graft.tools.PlanDump [args...]
# Compile first (sbt -batch compile); this script does not compile.
set -euo pipefail
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes:/opt/spark/jars/*"
ADD_OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke \
         java.base/java.lang.reflect java.base/java.io java.base/java.net \
         java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent \
         java.base/java.util.concurrent.atomic java.base/sun.nio.ch \
         java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens $p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-24g}" \
  -XX:ReservedCodeCacheSize=1g \
  -cp "$CP" "$@"
