#!/bin/bash
# Run a graft main class with the compiled classes + Spark's shipped jars,
# outside sbt (so long-running gen/verify jobs can overlap an sbt test run
# without fighting the build lock). Mirrors build.sbt's javaOptions.
# usage: tools/run_main.sh <mainClass> [args...]
set -euo pipefail
cd "$(dirname "$0")/.."
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" -XX:ReservedCodeCacheSize=1g \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
