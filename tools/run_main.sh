#!/bin/bash
# Run a graft main without sbt (no sbt lock, no startup tax).
# Usage: tools/run_main.sh <mainClass> [args...]
# Env: SPARK_DRIVER_MEM (default 8g) — same knob build.sbt honors.
set -e
# GRAFT_CLASSES overrides the class tree (A/B harness: two compiled
# trees, alternating same-box arms)
CLASSES="${GRAFT_CLASSES:-/root/repo/target/scala-2.13/classes}"
MAIN="$1"; shift
exec java \
  --add-opens java.base/java.lang=ALL-UNNAMED \
  --add-opens java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens java.base/java.io=ALL-UNNAMED \
  --add-opens java.base/java.net=ALL-UNNAMED \
  --add-opens java.base/java.nio=ALL-UNNAMED \
  --add-opens java.base/java.util=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens java.base/sun.security.action=ALL-UNNAMED \
  --add-opens java.base/sun.util.calendar=ALL-UNNAMED \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$CLASSES:/opt/spark/jars/*" \
  "$MAIN" "$@"
