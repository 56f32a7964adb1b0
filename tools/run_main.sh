#!/bin/bash
# Run a graft main class directly on the compiled classes + /opt/spark/jars,
# skipping sbt's launch/lock overhead. Usage: run_main.sh <mainClass> [args...]
# Compile first with `sbt -batch compile` — this script does NOT compile.
set -u
# Classes come from the checkout this script lives in.
CLASSES="$(cd "$(dirname "$0")/.." && pwd)/target/scala-2.13/classes"
ADDOPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADDOPENS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$CLASSES:/opt/spark/jars/*" "$@"
