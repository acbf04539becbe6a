#!/usr/bin/env bash
# Run a graft main outside sbt (parallel-safe: no project lock, no sbt
# logger prefix). Usage: scripts/run_main.sh graft.Bench [args...]
#                        scripts/run_main.sh graft.Tool <command> [args...]
# Env: SPARK_DRIVER_MEM (default 8g) sizes the heap, matching build.sbt.
set -euo pipefail
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes:/opt/spark/jars/*"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Dspark.sql.warehouse.dir=/tmp/graft-warehouse \
  -Dderby.system.home=/tmp/graft-derby \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$CP" "$@"
