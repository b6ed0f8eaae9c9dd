#!/bin/bash
# Run a graft main directly on the compiled classes + Spark jars,
# bypassing the sbt lock so long data-gen/probe runs can proceed while
# sbt test holds the build. Mirrors build.sbt's forked-run JVM options.
# Usage: tools/runmain.sh <mainClass> [args...]   (env: SPARK_DRIVER_MEM)
set -euo pipefail
cd "$(dirname "$0")/.."
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
