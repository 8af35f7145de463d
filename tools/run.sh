#!/bin/bash
# Run a graft main class directly against the compiled classes + Spark jars
# (much faster iteration than `sbt runMain`). Usage:
#   tools/run.sh graft.Verify <sfDir> <outDir> [names...]
#   tools/run.sh graft.Bench                  (SPARK_GRAFT_SF_DIR etc.)
#   tools/run.sh graft.Smoke
#   tools/run.sh graft.Tools plan-dump|plan-audit|probe|scale-data [args...]
set -e
# this checkout's classes, wherever it is cloned (an A/B from a second tree
# runs its own code)
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
CLS="$1"; shift
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -cp "$ROOT/target/scala-2.13/classes:/opt/spark/jars/*" \
  "$CLS" "$@"
